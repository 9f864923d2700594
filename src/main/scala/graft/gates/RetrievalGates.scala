package graft.gates

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.gates.Shared.t
import graft.ops.Similarity

/** Similarity search and retrieval over embeddings and documents: exact
  * and approximate (IVF, PQ) nearest neighbours, clustering, BM25, TF-
  * IDF, hybrid RRF ranking, MMR re-ranking, phrase search, ranking and
  * agreement metrics, multimodal near-dups and feature encodings. */
object RetrievalGates {

  /** Shared DuckDB CTE chain computing the deterministic IVF cell
    * assignment (stride-32 centroids, 9-digit-rounded argmin, id
    * tie-break) — interpolated into the q25 and q75 oracles so both
    * gate the SAME assignment. */
  private val IvfAssignCtes: String =
    """ex AS (
      |  SELECT vec_id, CAST(embedding[i] AS DOUBLE) AS v, i AS idx
      |  FROM embeddings, generate_series(1, 64) AS t(i)
      |), selfdot AS (
      |  SELECT vec_id, SUM(v*v) AS sd FROM ex GROUP BY 1
      |), cents AS (
      |  SELECT vec_id AS cent_id FROM embeddings WHERE vec_id % 32 = 0
      |), cdist AS (
      |  SELECT a.vec_id, c.cent_id,
      |    ROUND(sa.sd - 2*SUM(a.v*b.v) + sc.sd, 9) AS dist
      |  FROM ex a
      |  JOIN cents c ON TRUE
      |  JOIN ex b ON b.vec_id = c.cent_id AND b.idx = a.idx
      |  JOIN selfdot sa ON sa.vec_id = a.vec_id
      |  JOIN selfdot sc ON sc.vec_id = c.cent_id
      |  GROUP BY a.vec_id, c.cent_id, sa.sd, sc.sd
      |), assigned AS (
      |  SELECT target_id, cent_id FROM (
      |    SELECT vec_id AS target_id, cent_id,
      |      ROW_NUMBER() OVER (PARTITION BY vec_id
      |                         ORDER BY dist, cent_id) AS rn
      |    FROM cdist) WHERE rn = 1
      |)""".stripMargin

  /** Shared oracle for the hybrid BM25+TFIDF RRF ranker: q112
    * (inline postings) and q159 (persisted posting index) must
    * produce the IDENTICAL ranking. */
  private val HybridRrfOracleSql: String =
    """WITH q(query_id, qtext) AS (
        |  VALUES (1, 'spark join fast'), (2, 'hash table scan'),
        |         (3, 'stream window state')
        |), post AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, token, COUNT(1) AS tf FROM post GROUP BY 1, 2
        |), dl AS (
        |  SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1
        |), stats AS (
        |  SELECT COUNT(1) AS n, AVG(dl) AS avgdl FROM dl
        |), dfreq AS (
        |  SELECT token, COUNT(1) AS df FROM tf GROUP BY 1
        |), qt AS (
        |  SELECT query_id, unnest(list_distinct(regexp_split_to_array(qtext, '\s+'))) AS token
        |  FROM q
        |), scored AS (
        |  SELECT qt.query_id, tf.doc_id,
        |    ROUND(SUM(ln(1.0 + (s.n - d.df + 0.5)/(d.df + 0.5))
        |      * tf.tf * (1.2 + 1.0)
        |      / (tf.tf + 1.2*(1.0 - 0.75 + 0.75*dl.dl/s.avgdl))), 6) AS score
        |  FROM tf
        |  JOIN qt ON qt.token = tf.token
        |  JOIN dfreq d ON d.token = tf.token
        |  JOIN dl ON dl.doc_id = tf.doc_id
        |  CROSS JOIN stats s
        |  GROUP BY 1, 2
        |), bml AS (
        |  SELECT query_id, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |                       ORDER BY score DESC, doc_id) AS rank
        |  FROM scored
        |  QUALIFY rank <= 20
        |), wtd AS (
        |  SELECT doc_id, token, tf,
        |    COUNT(1) OVER (PARTITION BY token) AS df,
        |    tf * ln((SELECT n FROM stats) * 1.0
        |            / COUNT(1) OVER (PARTITION BY token)) AS w
        |  FROM tf
        |  QUALIFY w > 0
        |), dnorm AS (
        |  SELECT doc_id, sqrt(SUM(w*w)) AS dn FROM wtd GROUP BY 1
        |), vocab AS (
        |  SELECT token, MAX(df) AS df FROM wtd GROUP BY 1
        |), qw AS (
        |  SELECT query_id, qt.token,
        |    ln((SELECT n FROM stats) * 1.0 / df) AS qw
        |  FROM qt JOIN vocab USING (token)
        |  WHERE ln((SELECT n FROM stats) * 1.0 / df) > 0
        |), qnorm AS (
        |  SELECT query_id, sqrt(SUM(qw*qw)) AS qn FROM qw GROUP BY 1
        |), tdots AS (
        |  SELECT qw.query_id, wtd.doc_id, SUM(wtd.w * qw.qw) AS dot
        |  FROM wtd JOIN qw ON qw.token = wtd.token
        |  GROUP BY 1, 2
        |), tscored AS (
        |  SELECT query_id, doc_id, ROUND(dot/(dn*qn), 6) AS score
        |  FROM tdots JOIN dnorm USING (doc_id) JOIN qnorm USING (query_id)
        |), tfl AS (
        |  SELECT query_id, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |                       ORDER BY score DESC, doc_id) AS rank
        |  FROM tscored
        |  QUALIFY rank <= 20
        |), fused AS (
        |  SELECT COALESCE(b.query_id, t.query_id) AS query_id,
        |         COALESCE(b.doc_id, t.doc_id) AS doc_id,
        |         ROUND(COALESCE(CAST(1 AS DOUBLE)/(60 + b.rank), 0)
        |             + COALESCE(CAST(1 AS DOUBLE)/(60 + t.rank), 0), 6) AS rrf
        |  FROM bml b FULL OUTER JOIN tfl t
        |    ON b.query_id = t.query_id AND b.doc_id = t.doc_id
        |)
        |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, rrf,
        |       CAST(rnk AS BIGINT) AS rank
        |FROM (SELECT query_id, doc_id, rrf,
        |        ROW_NUMBER() OVER (PARTITION BY query_id
        |                           ORDER BY rrf DESC, doc_id) AS rnk
        |      FROM fused)
        |WHERE rnk <= 10 ORDER BY query_id, rank""".stripMargin

  /** λ for the q139 MMR oracle — binary-exact 0.75 (see
    * [[graft.ops.Similarity.mmrRerank]]'s rounding note), CAST so
    * DuckDB computes `1 - λ` in DOUBLE like the Spark side. */
  private val MmrLam: String = "CAST(0.75 AS DOUBLE)"

  /** One greedy MMR step (score-candidates + accumulate-selection CTE
    * pair) per rank — the oracle mirror of
    * [[graft.ops.Similarity.mmrRerank]]'s loop. */
  private def mmrStepCtes(k: Int, lam: String): String =
    (2 to k).map { i =>
      s"""s$i AS (
         |  SELECT query_id, target_id, mmr FROM (
         |    SELECT query_id, target_id, mmr, ROW_NUMBER() OVER (
         |      PARTITION BY query_id ORDER BY mmr DESC, target_id) AS rn
         |    FROM (
         |      SELECT c.query_id, c.target_id,
         |        ROUND($lam*c.rel
         |          - (CAST(1 AS DOUBLE) - $lam)*m.msim, 8) AS mmr
         |      FROM pool c
         |      LEFT JOIN acc${i - 1} d ON d.query_id = c.query_id
         |        AND d.target_id = c.target_id
         |      JOIN (SELECT s.query_id, s.a AS target_id,
         |              MAX(s.sim) AS msim
         |            FROM sims s JOIN acc${i - 1} x
         |              ON x.query_id = s.query_id AND x.target_id = s.b
         |            GROUP BY 1, 2) m ON m.query_id = c.query_id
         |        AND m.target_id = c.target_id
         |      WHERE d.target_id IS NULL)) WHERE rn = 1
         |), acc$i AS MATERIALIZED (
         |  SELECT * FROM acc${i - 1} UNION ALL
         |  SELECT query_id, target_id, $i AS sel_rank, mmr FROM s$i
         |)""".stripMargin
    }.mkString(", ")

  val all: Seq[Gate] = Seq(

    // Exact brute-force cosine top-5 for 10 query vectors (the ANN
    // correctness baseline; query set broadcast, corpus streamed).
    Gate("q17_ann_cosine", (s, dir) =>
      Similarity.cosineTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
          col("vec_id") < 10, k = 5)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank"),
      """WITH ex AS (
        |  SELECT vec_id, CAST(embedding[i] AS DOUBLE) AS v, i AS idx
        |  FROM embeddings, generate_series(1, 64) AS t(i)
        |), norms AS MATERIALIZED (
        |  SELECT vec_id, sqrt(SUM(v*v)) AS nrm FROM ex GROUP BY 1
        |), dots AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS target_id, SUM(a.v*b.v) AS dot
        |  FROM ex a JOIN ex b ON a.idx = b.idx
        |   AND a.vec_id < 10 AND b.vec_id <> a.vec_id
        |  GROUP BY 1, 2
        |), cos AS (
        |  SELECT query_id, target_id, ROUND(dot/(na.nrm*nb.nrm), 6) AS cosine
        |  FROM dots JOIN norms na ON na.vec_id = query_id
        |            JOIN norms nb ON nb.vec_id = target_id
        |), ranked AS (
        |  SELECT query_id, target_id, cosine,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |                       ORDER BY cosine DESC, target_id) AS rank
        |  FROM cos
        |)
        |SELECT query_id, target_id, cosine, CAST(rank AS BIGINT) AS rank
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    // Embedding-cosine near-duplicate pairs (exact all-pairs verify).
    Gate("q24_embedding_neardup", (s, dir) =>
      Similarity.embeddingNearDups(t(s, dir, "embeddings"), "vec_id",
          "embedding", threshold = 0.4)
        .orderBy("doc_a", "doc_b"),
      """WITH ex AS (
        |  SELECT vec_id, CAST(embedding[i] AS DOUBLE) AS v, i AS idx
        |  FROM embeddings, generate_series(1, 64) AS t(i)
        |), norms AS MATERIALIZED (
        |  SELECT vec_id, sqrt(SUM(v*v)) AS nrm FROM ex GROUP BY 1
        |), dots AS (
        |  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b, SUM(a.v*b.v) AS dot
        |  FROM ex a JOIN ex b ON a.idx = b.idx AND a.vec_id < b.vec_id
        |  GROUP BY 1, 2
        |)
        |SELECT doc_a, doc_b, ROUND(dot/(na.nrm*nb.nrm), 6) AS cosine
        |FROM dots JOIN norms na ON na.vec_id = doc_a
        |          JOIN norms nb ON nb.vec_id = doc_b
        |WHERE dot/(na.nrm*nb.nrm) >= 0.4
        |ORDER BY 1, 2""".stripMargin),

    // IVF approximate top-k — the pruned scale path. Deterministic
    // end-to-end (stride centroids, 9-digit-rounded argmin assignment,
    // id tie-breaks), so the same assignment+probe+rank is expressed
    // in the DuckDB oracle; recall vs q17 also asserted in
    // SimilaritySpec.
    Gate("q25_ann_ivf", (s, dir) =>
      Similarity.ivfTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
          col("vec_id") < 10, k = 5, centroidStride = 32, nprobe = 4)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank"),
      // Same IVF algorithm as Similarity.ivfTopK, re-derived in SQL:
      // centroids = every 32nd vec_id; each vector is assigned to the
      // centroid minimizing ROUND(|t|^2 - 2<t,c> + |c|^2, 9) (ties ->
      // smallest cent_id); queries (vec_id < 10) probe their 4 nearest
      // cells; exact cosine rank within probed cells.
      s"""WITH $IvfAssignCtes, probes AS (
        |  SELECT query_id, cent_id FROM (
        |    SELECT vec_id AS query_id, cent_id,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id
        |                         ORDER BY dist, cent_id) AS rn
        |    FROM cdist WHERE vec_id < 10) WHERE rn <= 4
        |), cos AS (
        |  SELECT p.query_id, a.target_id,
        |    ROUND(SUM(qe.v*te.v) / (sqrt(sq.sd)*sqrt(st.sd)), 6) AS cosine
        |  FROM probes p
        |  JOIN assigned a ON a.cent_id = p.cent_id
        |   AND a.target_id <> p.query_id
        |  JOIN ex qe ON qe.vec_id = p.query_id
        |  JOIN ex te ON te.vec_id = a.target_id AND te.idx = qe.idx
        |  JOIN selfdot sq ON sq.vec_id = p.query_id
        |  JOIN selfdot st ON st.vec_id = a.target_id
        |  GROUP BY p.query_id, a.target_id, sq.sd, st.sd
        |), ranked AS (
        |  SELECT query_id, target_id, cosine,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |                       ORDER BY cosine DESC, target_id) AS rank
        |  FROM cos
        |)
        |SELECT query_id, target_id, cosine, CAST(rank AS BIGINT) AS rank
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    // BM25 ranked retrieval: Okapi scoring of a bounded query set
    // against the corpus (query terms broadcast; corpus postings
    // shuffle once). Scores rounded before ranking, id tie-break.
    Gate("q74_bm25", (s, dir) => {
      val qs = s.createDataFrame(Seq(
        (1L, "spark join fast"), (2L, "hash table scan"),
        (3L, "stream window state"))).toDF("query_id", "qtext")
      graft.ops.Bm25.topK(t(s, dir, "documents"), "doc_id", "text",
          qs, "query_id", "qtext", k = 10)
        .orderBy("query_id", "rank")
    },
      """WITH q(query_id, qtext) AS (
        |  VALUES (1, 'spark join fast'), (2, 'hash table scan'),
        |         (3, 'stream window state')
        |), post AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, token, COUNT(1) AS tf FROM post GROUP BY 1, 2
        |), dl AS (
        |  SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1
        |), stats AS (
        |  SELECT COUNT(1) AS n, AVG(dl) AS avgdl FROM dl
        |), dfreq AS (
        |  SELECT token, COUNT(1) AS df FROM tf GROUP BY 1
        |), qt AS (
        |  SELECT query_id, unnest(list_distinct(regexp_split_to_array(qtext, '\s+'))) AS token
        |  FROM q
        |), scored AS (
        |  SELECT qt.query_id, tf.doc_id,
        |    ROUND(SUM(ln(1.0 + (s.n - d.df + 0.5)/(d.df + 0.5))
        |      * tf.tf * (1.2 + 1.0)
        |      / (tf.tf + 1.2*(1.0 - 0.75 + 0.75*dl.dl/s.avgdl))), 6) AS score
        |  FROM tf
        |  JOIN qt ON qt.token = tf.token
        |  JOIN dfreq d ON d.token = tf.token
        |  JOIN dl ON dl.doc_id = tf.doc_id
        |  CROSS JOIN stats s
        |  GROUP BY 1, 2
        |), ranked AS (
        |  SELECT query_id, doc_id, score,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |                       ORDER BY score DESC, doc_id) AS rank
        |  FROM scored
        |)
        |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score,
        |       CAST(rank AS BIGINT) AS rank
        |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin),

    // SemDeDup: embedding near-dup pairs restricted to IVF cells —
    // the within-cluster semantic dedup that replaces q24's all-pairs
    // at scale. Deterministic cell assignment (same as q25), rounded
    // cosine thresholding.
    Gate("q75_semantic_dedup", (s, dir) =>
      Similarity.semanticNearDups(t(s, dir, "embeddings"), "vec_id",
          "embedding", threshold = 0.4, centroidStride = 32)
        .orderBy("doc_a", "doc_b"),
      s"""WITH $IvfAssignCtes, pairs AS (
         |  SELECT a.cent_id, a.target_id AS doc_a, b.target_id AS doc_b
         |  FROM assigned a JOIN assigned b
         |    ON a.cent_id = b.cent_id AND a.target_id < b.target_id
         |), cos AS (
         |  SELECT p.doc_a, p.doc_b, p.cent_id,
         |    ROUND(SUM(ea.v*eb.v)/(sqrt(sa.sd)*sqrt(sb.sd)), 6) AS cosine
         |  FROM pairs p
         |  JOIN ex ea ON ea.vec_id = p.doc_a
         |  JOIN ex eb ON eb.vec_id = p.doc_b AND eb.idx = ea.idx
         |  JOIN selfdot sa ON sa.vec_id = p.doc_a
         |  JOIN selfdot sb ON sb.vec_id = p.doc_b
         |  GROUP BY p.doc_a, p.doc_b, p.cent_id, sa.sd, sb.sd
         |)
         |SELECT doc_a, doc_b, cent_id, cosine FROM cos
         |WHERE cosine >= 0.4 ORDER BY doc_a, doc_b""".stripMargin),

    // Distributed k-means (2 Lloyd updates from a stride start): the
    // corpus-clustering primitive. Assignment is a broadcast fold (the
    // corpus never shuffles); the mean update shuffles only
    // |partitions| x k x dim partial sums.
    Gate("q79_kmeans", (s, dir) =>
      graft.ops.Cluster.kmeans(t(s, dir, "embeddings"), "vec_id",
          "embedding", centroidStride = 32, iters = 2)
        .orderBy("vec_id"),
      // two Lloyd updates unrolled: assign to stride start (a0), means
      // (c1), reassign (a1), means (c2), final assignment under c2 —
      // exactly Cluster.kmeans(iters = 2)'s schedule
      """WITH ex AS (
        |  SELECT vec_id, CAST(embedding[i] AS DOUBLE) AS v, i AS idx
        |  FROM embeddings, generate_series(1, 64) AS t(i)
        |), selfdot AS (
        |  SELECT vec_id, SUM(v*v) AS sd FROM ex GROUP BY 1
        |), c0 AS (
        |  SELECT vec_id AS cent_id, idx, v AS m FROM ex WHERE vec_id % 32 = 0
        |), c0sc AS (
        |  SELECT cent_id, SUM(m*m) AS sc FROM c0 GROUP BY 1
        |), d0 AS (
        |  SELECT a.vec_id, c.cent_id,
        |    ROUND(sa.sd - 2*SUM(a.v*c.m) + cs.sc, 9) AS dist
        |  FROM ex a JOIN c0 c ON c.idx = a.idx
        |  JOIN selfdot sa ON sa.vec_id = a.vec_id
        |  JOIN c0sc cs ON cs.cent_id = c.cent_id
        |  GROUP BY a.vec_id, c.cent_id, sa.sd, cs.sc
        |), a0 AS (
        |  SELECT vec_id, cent_id FROM (
        |    SELECT vec_id, cent_id,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cent_id) AS rn
        |    FROM d0) WHERE rn = 1
        |), c1 AS (
        |  SELECT a0.cent_id, e.idx, ROUND(SUM(e.v)/COUNT(1), 6) AS m
        |  FROM a0 JOIN ex e ON e.vec_id = a0.vec_id GROUP BY 1, 2
        |), c1sc AS (
        |  SELECT cent_id, SUM(m*m) AS sc FROM c1 GROUP BY 1
        |), d1 AS (
        |  SELECT a.vec_id, c.cent_id,
        |    ROUND(sa.sd - 2*SUM(a.v*c.m) + cs.sc, 9) AS dist
        |  FROM ex a JOIN c1 c ON c.idx = a.idx
        |  JOIN selfdot sa ON sa.vec_id = a.vec_id
        |  JOIN c1sc cs ON cs.cent_id = c.cent_id
        |  GROUP BY a.vec_id, c.cent_id, sa.sd, cs.sc
        |), a1 AS (
        |  SELECT vec_id, cent_id FROM (
        |    SELECT vec_id, cent_id,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cent_id) AS rn
        |    FROM d1) WHERE rn = 1
        |), c2 AS (
        |  SELECT a1.cent_id, e.idx, ROUND(SUM(e.v)/COUNT(1), 6) AS m
        |  FROM a1 JOIN ex e ON e.vec_id = a1.vec_id GROUP BY 1, 2
        |), c2sc AS (
        |  SELECT cent_id, SUM(m*m) AS sc FROM c2 GROUP BY 1
        |), d2 AS (
        |  SELECT a.vec_id, c.cent_id,
        |    ROUND(sa.sd - 2*SUM(a.v*c.m) + cs.sc, 9) AS dist
        |  FROM ex a JOIN c2 c ON c.idx = a.idx
        |  JOIN selfdot sa ON sa.vec_id = a.vec_id
        |  JOIN c2sc cs ON cs.cent_id = c.cent_id
        |  GROUP BY a.vec_id, c.cent_id, sa.sd, cs.sc
        |)
        |SELECT vec_id, cent_id, ROUND(dist, 6) AS dist FROM (
        |  SELECT vec_id, cent_id, dist,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cent_id) AS rn
        |  FROM d2) WHERE rn = 1
        |ORDER BY vec_id""".stripMargin),

    // Inverted index: df + total tf + bounded top-5 posting list per
    // term (the heap aggregator — no per-term group sort).
    Gate("q84_inverted_index", (s, dir) =>
      graft.ops.Vocab.invertedIndex(t(s, dir, "documents"), "doc_id",
          "text", k = 5)
        .orderBy("token"),
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents
        |), p AS (
        |  SELECT token, doc_id, COUNT(1) AS tf FROM toks GROUP BY 1, 2
        |), s AS (
        |  SELECT token, COUNT(1) AS df, CAST(SUM(tf) AS BIGINT) AS tf_total
        |  FROM p GROUP BY 1
        |), t AS (
        |  SELECT token, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY token ORDER BY tf DESC, doc_id) AS rn
        |  FROM p
        |), tops AS (
        |  SELECT token,
        |    string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY rn) AS top_docs
        |  FROM t WHERE rn <= 5 GROUP BY 1
        |)
        |SELECT s.token, s.df, s.tf_total, tops.top_docs
        |FROM s JOIN tops USING (token)
        |ORDER BY s.token""".stripMargin),

    // Lexical "related documents": TF-IDF sparse cosine top-3 via the
    // inverted term join over the df-capped vocabulary.
    Gate("q94_sparse_cosine", (s, dir) =>
      graft.ops.Tfidf.similarDocs(t(s, dir, "documents"), "doc_id",
          "text", maxDf = 100, k = 3)
        .orderBy("doc_id", "rank"),
      """WITH tf AS (
        |  SELECT doc_id AS doc, token, COUNT(1) AS tf FROM (
        |    SELECT doc_id,
        |           unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |    FROM documents
        |  ) GROUP BY 1, 2
        |), n AS (SELECT COUNT(1) AS nn FROM documents),
        |wtd AS (
        |  SELECT doc, token,
        |         COUNT(1) OVER (PARTITION BY token) AS df,
        |         tf * ln((SELECT nn FROM n) * 1.0
        |                 / COUNT(1) OVER (PARTITION BY token)) AS w
        |  FROM tf
        |  QUALIFY df <= 100 AND w > 0
        |), norms AS MATERIALIZED (
        |  SELECT doc, sqrt(SUM(w * w)) AS norm FROM wtd GROUP BY 1
        |), pairs AS (
        |  SELECT a.doc, b.doc AS doc_b, SUM(a.w * b.w) AS dot
        |  FROM wtd a JOIN wtd b ON a.token = b.token AND a.doc <> b.doc
        |  WHERE a.df >= 2
        |  GROUP BY 1, 2
        |), scored AS (
        |  SELECT p.doc, p.doc_b,
        |         ROUND(p.dot / (na.norm * nb.norm), 6) AS score
        |  FROM pairs p
        |  JOIN norms na ON na.doc = p.doc
        |  JOIN norms nb ON nb.doc = p.doc_b
        |)
        |SELECT doc AS doc_id, doc_b AS other_id, score,
        |       ROW_NUMBER() OVER
        |         (PARTITION BY doc ORDER BY score DESC, doc_b) AS rank
        |FROM scored
        |QUALIFY rank <= 3
        |ORDER BY doc_id, rank""".stripMargin),

    // Hybrid retrieval: BM25 and TF-IDF-cosine top-20 lists fused by
    // reciprocal-rank fusion (both rankers broadcast the query set;
    // the fusion join is bounded at |queries| x k).
    Gate("q112_hybrid_rrf", (s, dir) => {
      val qs = s.createDataFrame(Seq(
        (1L, "spark join fast"), (2L, "hash table scan"),
        (3L, "stream window state"))).toDF("query_id", "qtext")
      graft.ops.Retrieval.hybridTopK(t(s, dir, "documents"), "doc_id",
          "text", qs, "query_id", "qtext", kPerLeg = 20, k = 10)
        .orderBy("query_id", "rank")
    },
      HybridRrfOracleSql),

    // Product-quantization ANN (Jegou et al. 2011): 8 subspaces x
    // 16-entry hash-seeded codebooks compress each 64-float vector to
    // 8 codes (32x); queries rank by asymmetric distance — exact
    // subspace distances to each codebook entry collapse into one
    // broadcast LUT row per query, every corpus row costs 8 array
    // lookups and never decompresses. Deterministic end-to-end
    // (hash-ranked seeds, 9-digit argmin rounding, id tie-breaks), so
    // the full train->encode->ADC chain mirrors in DuckDB.
    Gate("q129_pq_topk", (s, dir) =>
      graft.ops.Pq.pqTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
          col("vec_id") < 10, k = 5, m = 8, ksub = 16)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank"),
      """WITH ex AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |), sub AS (
        |  SELECT vec_id, s AS sub, list_slice(v, s*8+1, s*8+8) AS sv
        |  FROM (SELECT vec_id, v, unnest(range(0, 8)) AS s FROM ex)
        |), seeds AS (
        |  SELECT id, row_number() OVER (ORDER BY h, id) - 1 AS cent_id
        |  FROM (
        |    SELECT vec_id AS id,
        |      CAST(('0x'||substr(md5(CAST(vec_id AS VARCHAR)),1,8)) AS BIGINT) AS h
        |    FROM (SELECT DISTINCT vec_id FROM embeddings)
        |    ORDER BY h, vec_id LIMIT 16)
        |), cents AS (
        |  SELECT s.sub, d.cent_id, s.sv AS cv,
        |    list_dot_product(s.sv, s.sv) AS sc
        |  FROM sub s JOIN seeds d ON s.vec_id = d.id
        |), asg AS (
        |  SELECT vec_id, sub, code FROM (
        |    SELECT s.vec_id, s.sub, c.cent_id AS code,
        |      row_number() OVER (PARTITION BY s.vec_id, s.sub
        |        ORDER BY round(list_dot_product(s.sv, s.sv)
        |          - 2*list_dot_product(s.sv, c.cv) + c.sc, 9), c.cent_id) AS rn
        |    FROM sub s JOIN cents c ON c.sub = s.sub)
        |  WHERE rn = 1
        |), qlut AS (
        |  SELECT q.vec_id AS query_id, c.sub, c.cent_id,
        |    round(list_dot_product(q.sv, q.sv)
        |      - 2*list_dot_product(q.sv, c.cv) + c.sc, 9) AS d
        |  FROM sub q JOIN cents c ON c.sub = q.sub WHERE q.vec_id < 10
        |), adist AS (
        |  SELECT l.query_id, a.vec_id AS target_id, round(SUM(l.d), 6) AS adist
        |  FROM asg a JOIN qlut l ON l.sub = a.sub AND l.cent_id = a.code
        |  WHERE l.query_id <> a.vec_id
        |  GROUP BY 1, 2
        |), ranked AS (
        |  SELECT query_id, target_id, adist,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY adist, target_id) AS rnk
        |  FROM adist
        |)
        |SELECT query_id, target_id, adist, CAST(rnk AS BIGINT) AS rank
        |FROM ranked WHERE rnk <= 5 ORDER BY query_id, rank""".stripMargin),

    // D4 prototypicality pruning: drop the quarter of each embedding
    // cluster closest to its centroid (most prototypical), keep the
    // diverse tail. Broadcast-fold assignment + one per-cluster rank
    // window — deterministic end-to-end, mirrored in DuckDB.
    Gate("q136_proto_prune", (s, dir) =>
      graft.ops.Cluster.prototypicalityPrune(t(s, dir, "embeddings"),
          "vec_id", "embedding", 32, 0.25)
        .orderBy("vec_id"),
      s"""WITH $IvfAssignCtes, ad AS (
        |  SELECT target_id, cent_id, dist FROM (
        |    SELECT vec_id AS target_id, cent_id, dist,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id
        |                         ORDER BY dist, cent_id) AS rn
        |    FROM cdist) WHERE rn = 1
        |), rnk AS (
        |  SELECT target_id, cent_id, dist,
        |    ROW_NUMBER() OVER (PARTITION BY cent_id
        |                       ORDER BY dist, target_id) AS rn,
        |    COUNT(1) OVER (PARTITION BY cent_id) AS n
        |  FROM ad
        |)
        |SELECT target_id AS vec_id, cent_id, dist AS cdist,
        |  CAST(rn - FLOOR(n * 0.25) AS BIGINT) AS rn
        |FROM rnk WHERE rn > FLOOR(n * 0.25)
        |ORDER BY vec_id""".stripMargin),

    // Hard-negative mining for contrastive training: per anchor, the
    // 5 most-similar vectors with a DIFFERENT label (null-safe).
    // Anchor batch broadcasts; corpus streams once, never shuffles.
    Gate("q137_hard_negatives", (s, dir) =>
      Similarity.hardNegatives(t(s, dir, "embeddings"), "vec_id",
          "embedding", "label", col("vec_id") < 8, k = 5)
        .orderBy("anchor_id", "rank"),
      """WITH ex AS (
        |  SELECT vec_id, label, CAST(embedding[i] AS DOUBLE) AS v, i AS idx
        |  FROM embeddings, generate_series(1, 64) AS t(i)
        |), norms AS MATERIALIZED (
        |  SELECT vec_id, ANY_VALUE(label) AS label, sqrt(SUM(v*v)) AS nrm
        |  FROM ex GROUP BY 1
        |), dots AS (
        |  SELECT a.vec_id AS anchor_id, b.vec_id AS neg_id,
        |    SUM(a.v*b.v) AS dot
        |  FROM ex a JOIN ex b ON a.idx = b.idx
        |   AND a.vec_id < 8 AND b.vec_id <> a.vec_id
        |   AND b.label IS DISTINCT FROM a.label
        |  GROUP BY 1, 2
        |), cos AS (
        |  SELECT anchor_id, neg_id, nb.label AS neg_label,
        |    ROUND(dot/(na.nrm*nb.nrm), 6) AS cosine
        |  FROM dots JOIN norms na ON na.vec_id = anchor_id
        |            JOIN norms nb ON nb.vec_id = neg_id
        |), ranked AS (
        |  SELECT anchor_id, neg_id, neg_label, cosine,
        |    ROW_NUMBER() OVER (PARTITION BY anchor_id
        |                       ORDER BY cosine DESC, neg_id) AS rank
        |  FROM cos
        |)
        |SELECT anchor_id, neg_id, neg_label, cosine,
        |  CAST(rank AS BIGINT) AS rank
        |FROM ranked WHERE rank <= 5 ORDER BY anchor_id, rank""".stripMargin),

    // JL sign random projection 64->16: deterministic md5 ±1 matrix as
    // a plan-time literal, one codegen'd dot product per output dim —
    // zero shuffle; the corpus projects in a single map pass.
    Gate("q138_random_projection", (s, dir) =>
      Similarity.signRandomProjection(t(s, dir, "embeddings"), "vec_id",
          "embedding", dim = 64, outDim = 16)
        .orderBy("vec_id", "dim_idx"),
      """WITH sg AS (
        |  SELECT j, i,
        |    CASE WHEN CAST(('0x'||substr(md5('rp1:'||j||':'||i),1,8))
        |              AS BIGINT) % 2 = 0
        |         THEN 1.0 ELSE -1.0 END AS sgn
        |  FROM generate_series(0, 15) AS t(j),
        |       generate_series(0, 63) AS u(i)
        |), ex AS (
        |  SELECT vec_id, CAST(embedding[i+1] AS DOUBLE) AS v, i
        |  FROM embeddings, generate_series(0, 63) AS t(i)
        |)
        |SELECT vec_id, CAST(j AS BIGINT) AS dim_idx,
        |  ROUND(SUM(v * sgn) / sqrt(16.0), 6) AS proj
        |FROM ex JOIN sg USING (i)
        |GROUP BY 1, 2 ORDER BY vec_id, dim_idx""".stripMargin),

    // MMR diversified top-k: greedy λ·rel − (1−λ)·max-sim-to-selected
    // re-rank over a 30-candidate pool, all queries advancing together
    // (one distributed argmax per greedy step, k steps total).
    // λ = 0.75: binary-exact, so both engines score identically.
    Gate("q139_mmr_rerank", (s, dir) =>
      Similarity.mmrRerank(t(s, dir, "embeddings"), "vec_id", "embedding",
          col("vec_id") < 3, poolSize = 30, k = 8, lambda = 0.75)
        .orderBy("query_id", "sel_rank"),
      s"""WITH ex AS MATERIALIZED (
        |  SELECT vec_id, CAST(embedding[i] AS DOUBLE) AS v, i AS idx
        |  FROM embeddings, generate_series(1, 64) AS t(i)
        |), norms AS MATERIALIZED (
        |  SELECT vec_id, sqrt(SUM(v*v)) AS nrm FROM ex GROUP BY 1
        |), qdots AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS target_id,
        |    SUM(a.v*b.v) AS dot
        |  FROM ex a JOIN ex b ON a.idx = b.idx
        |   AND a.vec_id < 3 AND b.vec_id <> a.vec_id
        |  GROUP BY 1, 2
        |), pool AS MATERIALIZED (
        |  SELECT query_id, target_id, rel FROM (
        |    SELECT query_id, target_id, rel, ROW_NUMBER() OVER (
        |      PARTITION BY query_id ORDER BY rel DESC, target_id) AS pr
        |    FROM (SELECT query_id, target_id,
        |        ROUND(dot/(na.nrm*nb.nrm), 6) AS rel
        |      FROM qdots JOIN norms na ON na.vec_id = query_id
        |                 JOIN norms nb ON nb.vec_id = target_id))
        |  WHERE pr <= 30
        |), pd AS (
        |  SELECT p1.query_id, p1.target_id AS a, p2.target_id AS b,
        |    SUM(ea.v*eb.v) AS dot
        |  FROM pool p1 JOIN pool p2 ON p1.query_id = p2.query_id
        |    AND p1.target_id <> p2.target_id
        |  JOIN ex ea ON ea.vec_id = p1.target_id
        |  JOIN ex eb ON eb.vec_id = p2.target_id AND eb.idx = ea.idx
        |  GROUP BY 1, 2, 3
        |), sims AS MATERIALIZED (
        |  SELECT query_id, a, b, ROUND(dot/(na.nrm*nb.nrm), 6) AS sim
        |  FROM pd JOIN norms na ON na.vec_id = a
        |           JOIN norms nb ON nb.vec_id = b
        |), acc1 AS MATERIALIZED (
        |  SELECT query_id, target_id, 1 AS sel_rank, mmr FROM (
        |    SELECT query_id, target_id, mmr, ROW_NUMBER() OVER (
        |      PARTITION BY query_id ORDER BY mmr DESC, target_id) AS rn
        |    FROM (SELECT query_id, target_id,
        |      ROUND($MmrLam*rel, 8) AS mmr FROM pool))
        |  WHERE rn = 1
        |), ${mmrStepCtes(8, MmrLam)}
        |SELECT query_id, target_id, CAST(sel_rank AS BIGINT) AS sel_rank,
        |  mmr
        |FROM acc8 ORDER BY query_id, sel_rank""".stripMargin),

    // Simplified silhouette per cluster: (b−a)/b from ONE two-minima
    // broadcast fold over the centroid array — the quadratic full
    // silhouette replaced by the point×centroid form that scales.
    Gate("q141_silhouette", (s, dir) =>
      graft.ops.Cluster.silhouette(t(s, dir, "embeddings"), "vec_id",
          "embedding", centroidStride = 32)
        .orderBy("cent_id"),
      s"""WITH $IvfAssignCtes, rnk AS (
        |  SELECT vec_id, cent_id, dist,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id
        |                       ORDER BY dist, cent_id) AS rn
        |  FROM cdist
        |), ab AS (
        |  SELECT a.vec_id, a.cent_id,
        |    CASE WHEN b.dist = 0 THEN 0.0
        |         ELSE ROUND((sqrt(b.dist) - sqrt(a.dist)) / sqrt(b.dist), 6)
        |    END AS s
        |  FROM rnk a JOIN rnk b
        |    ON b.vec_id = a.vec_id AND a.rn = 1 AND b.rn = 2
        |), agg AS (
        |  SELECT cent_id, COUNT(1) AS n,
        |    SUM(CAST(ROUND(s*1000000, 0) AS BIGINT)) AS sm
        |  FROM ab GROUP BY 1
        |)
        |SELECT cent_id, CAST(n AS BIGINT) AS n,
        |  SIGN(sm) * FLOOR((10*ABS(sm) + 5*n) * 1.0 / (10*n)) / 1000000.0
        |    AS mean_silhouette
        |FROM agg ORDER BY cent_id""".stripMargin),

    // Exact positional phrase search: postings pruned to the phrase
    // vocabulary BEFORE the position-shift equi-joins — the corpus
    // token stream never reaches a shuffle.
    Gate("q142_phrase_search", (s, dir) =>
      graft.ops.Retrieval.phraseSearch(t(s, dir, "documents"), "doc_id",
          "text", "stream table hash")
        .orderBy("doc_id"),
      """WITH toks AS (
        |  SELECT doc_id, i AS pos, w[i] AS tok FROM (
        |    SELECT doc_id, w, unnest(generate_series(1, len(w))) AS i
        |    FROM (SELECT doc_id,
        |      regexp_split_to_array(trim(text), '\s+') AS w
        |      FROM documents))
        |  WHERE w[i] IN ('stream', 'table', 'hash')
        |)
        |SELECT s.doc_id, CAST(COUNT(1) AS BIGINT) AS n_matches,
        |  CAST(MIN(s.pos) AS BIGINT) AS first_pos
        |FROM toks s
        |JOIN toks t1 ON t1.doc_id = s.doc_id AND t1.pos = s.pos + 1
        |  AND t1.tok = 'table'
        |JOIN toks t2 ON t2.doc_id = s.doc_id AND t2.pos = s.pos + 2
        |  AND t2.tok = 'hash'
        |WHERE s.tok = 'stream'
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Ranking-evaluation metrics (recall@10 / precision@10 / MRR /
    // graded nDCG@10): a deterministic tf ranker per query term,
    // graded relevance = min(tf, 3) — the measurement leg before a
    // ranker's output feeds curation or hard-negative mining.
    Gate("q145_ranking_metrics", (s, dir) => {
      val docs = t(s, dir, "documents")
      val q = s.createDataFrame(Seq(
        (1L, "spark"), (2L, "hash"), (3L, "window"))).toDF("query_id", "term")
      val tf = docs.select(col("doc_id"),
          explode(graft.functions.TextFunctions.tokens(col("text"))).as("tok"))
        .join(broadcast(q), col("tok") === col("term"))
        .groupBy(col("query_id"), col("doc_id"))
        .agg(count(lit(1)).as("tf"))
      val ranked = tf.withColumn("rank",
          row_number().over(Window.partitionBy(col("query_id"))
            .orderBy(col("tf").desc, col("doc_id"))))
        .where(col("rank") <= 20)
      val rels = tf.select(col("query_id"), col("doc_id"),
        least(col("tf"), lit(3L)).as("rel"))
      graft.ops.Eval.rankingMetrics(ranked, rels,
          "query_id", "doc_id", "rank", "rel", k = 10)
        .orderBy("query_id")
    },
      """WITH q(query_id, term) AS (
        |  VALUES (1, 'spark'), (2, 'hash'), (3, 'window')
        |), tf AS (
        |  SELECT q.query_id, d.doc_id, COUNT(1) AS tf
        |  FROM (SELECT doc_id,
        |          unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |        FROM documents) d
        |  JOIN q ON d.tok = q.term
        |  GROUP BY 1, 2
        |), ranked AS (
        |  SELECT query_id, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |                       ORDER BY tf DESC, doc_id) AS rank
        |  FROM tf QUALIFY rank <= 20
        |), rels AS (
        |  SELECT query_id, doc_id, CAST(LEAST(tf, 3) AS DOUBLE) AS rel
        |  FROM tf
        |), ideal AS (
        |  SELECT query_id, COUNT(1) AS n_rel,
        |    SUM(CASE WHEN irank <= 10
        |        THEN (POW(2.0, rel) - 1) / log2(irank + 1.0) ELSE 0 END)
        |      AS idcg
        |  FROM (SELECT query_id, doc_id, rel,
        |          ROW_NUMBER() OVER (PARTITION BY query_id
        |                             ORDER BY rel DESC, doc_id) AS irank
        |        FROM rels)
        |  GROUP BY 1
        |), scored AS (
        |  SELECT r.query_id,
        |    COUNT(CASE WHEN s.rel IS NOT NULL THEN 1 END) AS n_hit,
        |    SUM(CASE WHEN s.rel IS NOT NULL
        |        THEN (POW(2.0, s.rel) - 1) / log2(r.rank + 1.0)
        |        ELSE 0 END) AS dcg,
        |    MIN(CASE WHEN s.rel IS NOT NULL THEN r.rank END) AS first
        |  FROM ranked r LEFT JOIN rels s
        |    ON s.query_id = r.query_id AND s.doc_id = r.doc_id
        |  WHERE r.rank <= 10
        |  GROUP BY 1
        |)
        |, qids AS (
        |  SELECT DISTINCT query_id FROM ranked
        |  UNION
        |  SELECT DISTINCT query_id FROM rels
        |)
        |SELECT CAST(q.query_id AS BIGINT) AS query_id,
        |  COALESCE(i.n_rel, 0) AS n_rel,
        |  CAST(COALESCE(s.n_hit, 0) AS BIGINT) AS n_hit,
        |  ROUND(COALESCE(s.n_hit, 0) * 1.0 / i.n_rel, 6) AS recall,
        |  ROUND(COALESCE(s.n_hit, 0) / 10.0, 6) AS precision,
        |  ROUND(COALESCE(1.0 / s.first, 0), 6) AS mrr,
        |  ROUND(COALESCE(s.dcg, 0) / i.idcg, 6) AS ndcg
        |FROM qids q LEFT JOIN scored s USING (query_id)
        |  LEFT JOIN ideal i USING (query_id)
        |ORDER BY 1""".stripMargin),

    // Cohen's κ between the dataset's lang label and the n-gram langId
    // prediction — chance-corrected label/classifier agreement, the
    // label-QA gate a curation pipeline runs before trusting either.
    Gate("q146_label_agreement", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pred = docs.select(col("lang"),
        graft.functions.TextFunctions.langId(
          graft.functions.TextFunctions.tokens(col("text"))).as("pred"))
      graft.ops.Eval.cohenKappa(pred, "lang", "pred")
    },
      // lang_pred CTE mirrors q19's langId oracle exactly
      s"""WITH t AS (
         |  SELECT doc_id, lang,
         |    regexp_split_to_array(trim(text), '\\s+') AS w FROM documents
         |), s AS (
         |  SELECT doc_id, lang,
         |    len(list_filter(w, x -> x IN ('the','a','of','and','to','in','is'))) AS en_hits,
         |    len(list_filter(w, x -> x IN ('el','la','de','que','y','en','un'))) AS es_hits,
         |    len(list_filter(w, x -> x IN ('le','la','de','et','un','les','des'))) AS fr_hits
         |  FROM t
         |), labels AS (
         |  SELECT lang AS a,
         |    CASE WHEN greatest(en_hits, es_hits, fr_hits) = 0 THEN 'unk'
         |         WHEN en_hits >= es_hits AND en_hits >= fr_hits THEN 'en'
         |         WHEN es_hits >= fr_hits THEN 'es' ELSE 'fr' END AS b
         |  FROM s
         |), agg AS (
         |  SELECT COUNT(1) AS n,
         |    SUM(CASE WHEN a IS NOT DISTINCT FROM b THEN 1 ELSE 0 END) * 1.0
         |      / COUNT(1) AS po
         |  FROM labels
         |), ma AS (
         |  SELECT a AS lab, COUNT(1) * 1.0 AS ca FROM labels GROUP BY 1
         |), mb AS (
         |  SELECT b AS lab, COUNT(1) * 1.0 AS cb FROM labels GROUP BY 1
         |), chance AS (
         |  SELECT SUM(ca * cb) AS num FROM ma JOIN mb USING (lab)
         |)
         |SELECT n, ROUND(po, 6) AS po,
         |  ROUND(num / (n * 1.0 * n), 6) AS pe,
         |  ROUND((po - num / (n * 1.0 * n))
         |        / (1 - num / (n * 1.0 * n)), 6) AS kappa
         |FROM agg CROSS JOIN chance""".stripMargin),

    // Multimodal pipeline END-TO-END: deterministic planted PNG fixture
    // → real ImageIO decode → area-average resample → 64-bit dHash →
    // byte-band bucket join for near-dups (never all-pairs). Output is
    // one row per image (phash + near-dup partner count); the oracle
    // replays the pairing by brute force over the FROZEN hash values,
    // so both the decode→hash leg and the banded pairing are gated.
    // sfDir-independent fixture: one oracle serves every scale.
    Gate("q151_multimodal_neardup", (s, dir) => {
      val media = graft.multimodal.Multimodal.plantedMediaFixture(s)
      val hashes = graft.multimodal.Multimodal.imageHashes(media)
      val pairs = graft.multimodal.Multimodal.imageNearDups(media, maxHamming = 4)
      val partners = pairs.select(col("media_a").as("media_id"))
        .unionAll(pairs.select(col("media_b").as("media_id")))
        .groupBy(col("media_id")).agg(count(lit(1)).as("n_dups"))
      hashes.join(partners, Seq("media_id"), "left")
        .select(col("media_id"), col("phash"),
          coalesce(col("n_dups"), lit(0L)).as("n_dups"))
        .orderBy("media_id")
    },
      // q151: the hash values below are FROZEN outputs of the
      // deterministic fixture pipeline (pure-integer pixels → JDK PNG
      // encode/decode → area-average resample → dHash64 — bit-stable by
      // construction); the oracle replays the ≤4-bit near-dup pairing by
      // brute force over them, so a drift in ANY stage of the Spark-side
      // decode→hash→band pipeline breaks the gate.
      """WITH h(media_id, phash) AS (
        |  VALUES
        |    (0, CAST(2170523769162956733 AS BIGINT)),
        |    (1, CAST(4339351779891472359 AS BIGINT)),
        |    (2, CAST(-4939491224833902285 AS BIGINT)),
        |    (3, CAST(3921872058454533225 AS BIGINT)),
        |    (4, CAST(-6248086194791755115 AS BIGINT)),
        |    (5, CAST(5584447344285246382 AS BIGINT)),
        |    (6, CAST(4103218227461962867 AS BIGINT)),
        |    (7, CAST(-3545233626446849607 AS BIGINT)),
        |    (8, CAST(-2748440734620834708 AS BIGINT)),
        |    (9, CAST(5950844645780640342 AS BIGINT)),
        |    (10, CAST(6476606854997602689 AS BIGINT)),
        |    (11, CAST(-1761122469427569543 AS BIGINT)),
        |    (12, CAST(-3703802333178927412 AS BIGINT)),
        |    (13, CAST(-2614781743216075850 AS BIGINT)),
        |    (14, CAST(-5933163569153947054 AS BIGINT)),
        |    (15, CAST(5602336912791369812 AS BIGINT)),
        |    (100, CAST(2170523769196511165 AS BIGINT)),
        |    (101, CAST(4339351779891472359 AS BIGINT)),
        |    (102, CAST(-4939491224833902285 AS BIGINT)),
        |    (103, CAST(3921872058454533225 AS BIGINT)),
        |    (104, CAST(-6248086194724646251 AS BIGINT)),
        |    (105, CAST(5584447344285246382 AS BIGINT)),
        |    (200, CAST(3921872058454533225 AS BIGINT))
        |), p AS (
        |  SELECT a.media_id AS ma, b.media_id AS mb
        |  FROM h a JOIN h b ON a.media_id < b.media_id
        |  WHERE bit_count(xor(a.phash, b.phash)) <= 4
        |), c AS (
        |  SELECT media_id, COUNT(1) AS n_dups FROM (
        |    SELECT ma AS media_id FROM p
        |    UNION ALL SELECT mb AS media_id FROM p)
        |  GROUP BY 1
        |)
        |SELECT CAST(h.media_id AS BIGINT) AS media_id, h.phash,
        |  COALESCE(c.n_dups, 0) AS n_dups
        |FROM h LEFT JOIN c USING (media_id)
        |ORDER BY 1""".stripMargin),

    // The q112 hybrid ranker SERVED from a persisted index — the
    // steady-state read path (build once, serve batches): the index
    // (token-sorted postings + df + doc norms + corpus stats,
    // Retrieval.writeHybridIndex) is prebuilt once per JVM
    // (PrebuiltState — creation is priced by q112's inline build and
    // reported separately in BASELINE.md), and the gate measures pure
    // serving: pushed-down query-term reads, zero corpus-side
    // aggregation. The oracle is IDENTICAL to q112's, so the index
    // round-trip must lose nothing.
    Gate("q159_hybrid_persisted", (s, dir) => {
      val idx = graft.etl.PrebuiltState.getOrCreate(
          s"hybridIdx|$dir", "hybrid-idx") { d =>
        graft.ops.Retrieval.writeHybridIndex(
          t(s, dir, "documents"), "doc_id", "text", d, nPartitions = 8)
      }
      val qs = s.createDataFrame(Seq(
        (1L, "spark join fast"), (2L, "hash table scan"),
        (3L, "stream window state"))).toDF("query_id", "qtext")
      graft.ops.Retrieval.hybridTopKFromIndex(s, idx, "doc_id",
          qs, "query_id", "qtext", kPerLeg = 20, k = 10)
        .orderBy("query_id", "rank")
    },
      // identical oracle: the persisted-index round-trip (q159) must
      // change NOTHING about the ranking
      HybridRrfOracleSql),

    // Smoothed target encoding + leave-one-out variant over the
    // source category: one broadcast category aggregate + a 1-row
    // global-mean attach; the oracle recomputes both encodings from
    // its own aggregates.
    Gate("q201_target_encode", (s, dir) => {
      graft.ops.Features.targetEncode(
          t(s, dir, "documents").select("doc_id", "source", "n_chars"),
          "source", "n_chars", alpha = 10.0)
        .select(col("doc_id"), col("source"),
          round(col("te"), 6).as("te"), round(col("te_loo"), 6).as("te_loo"))
        .orderBy("doc_id")
    },
      """WITH agg AS (
        |  SELECT source, CAST(SUM(n_chars) AS DOUBLE) AS s,
        |    CAST(COUNT(1) AS BIGINT) AS n
        |  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1
        |), g AS (
        |  SELECT CAST(SUM(n_chars) AS DOUBLE) / COUNT(1) AS gmean
        |  FROM documents WHERE n_chars IS NOT NULL
        |)
        |SELECT doc_id, source,
        |  ROUND((s + 10 * gmean) / (n + 10), 6) AS te,
        |  ROUND((s - n_chars + 10 * gmean) / (n - 1 + 10), 6) AS te_loo
        |FROM documents LEFT JOIN agg USING (source), g
        |ORDER BY doc_id""".stripMargin),

    // Feature hashing: portable md5 index + ±1 sign nibble, one
    // partial-agg shuffle to the sparse (doc, idx) design matrix.
    Gate("q202_hash_features", (s, dir) => {
      graft.ops.Features.hashFeatures(t(s, dir, "documents"),
          "doc_id", "text", dim = 64)
        .orderBy("doc_id", "idx")
    },
      // identical portable hash: first 8 md5 nibbles -> index, 9th
      // nibble high bit -> sign
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents
        |), h AS (
        |  SELECT doc_id, md5(token) AS hx FROM toks WHERE token <> ''
        |)
        |SELECT doc_id,
        |  CAST(('0x' || substr(hx, 1, 8)) AS BIGINT) % 64 AS idx,
        |  CAST(COUNT(1) AS BIGINT) AS tf,
        |  CAST(SUM(CASE WHEN strpos('01234567', substr(hx, 9, 1)) > 0
        |    THEN 1 ELSE -1 END) AS BIGINT) AS sv
        |FROM h GROUP BY 1, 2 ORDER BY doc_id, idx""".stripMargin)
  )
}
