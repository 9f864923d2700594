package graft.gates

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Helpers that gates of two or more families use. */
private[gates] object Shared {

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    graft.etl.Tables.table(s, dir, name)

  /** One SIDE of the bipartite fuzzy-join oracle: the same
    * tokens→shingles→md5-hash→8-LCG-minhash→4×2-band chain as
    * [[minhashGateCtes]], with `sfx`-suffixed CTE names so two sides
    * coexist in one query (the q140 mirror of
    * [[graft.ops.Dedup.fuzzyJoin]]). */
  def minhashSideCtes(sfx: String, src: String): String =
    s"""toks$sfx AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM $src
       |), sh$sfx AS (
       |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(w)-2),
       |    i -> w[i]||' '||w[i+1]||' '||w[i+2])) AS shingles FROM toks$sfx
       |), ex$sfx AS (
       |  SELECT doc_id, unnest(shingles) AS s, len(shingles) AS n FROM sh$sfx
       |), h$sfx AS (
       |  SELECT doc_id, CAST(('0x'||substr(md5(s),1,8)) AS BIGINT) AS h FROM ex$sfx
       |), sig$sfx AS (
       |  SELECT doc_id,
       |    MIN((1664525*h+1013904223) % 2147483647) AS mh0,
       |    MIN((22695477*h+1) % 2147483647) AS mh1,
       |    MIN((1103515245*h+12345) % 2147483647) AS mh2,
       |    MIN((134775813*h+1) % 2147483647) AS mh3,
       |    MIN((214013*h+2531011) % 2147483647) AS mh4,
       |    MIN((69069*h+7) % 2147483647) AS mh5,
       |    MIN((48271*h+11) % 2147483647) AS mh6,
       |    MIN((16807*h+3) % 2147483647) AS mh7
       |  FROM h$sfx GROUP BY 1
       |), bands$sfx AS (
       |  SELECT doc_id, 0 AS band, mh0 AS k1, mh1 AS k2 FROM sig$sfx UNION ALL
       |  SELECT doc_id, 1, mh2, mh3 FROM sig$sfx UNION ALL
       |  SELECT doc_id, 2, mh4, mh5 FROM sig$sfx UNION ALL
       |  SELECT doc_id, 3, mh6, mh7 FROM sig$sfx
       |)""".stripMargin

  /** The gate-shape (8-perm, 4x2 band) MinHash near-dup CTE chain up
    * through exact verification, over an arbitrary source relation (the
    * composite corpus-clean gates run LSH on the GATED subset). */
  def minhashGateCtes(src: String): String =
    s"""toks AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM $src
       |), sh AS (
       |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(w)-2),
       |    i -> w[i]||' '||w[i+1]||' '||w[i+2])) AS shingles FROM toks
       |), ex AS (
       |  SELECT doc_id, unnest(shingles) AS s, len(shingles) AS n FROM sh
       |), h AS (
       |  SELECT doc_id, CAST(('0x'||substr(md5(s),1,8)) AS BIGINT) AS h FROM ex
       |), sig AS (
       |  SELECT doc_id,
       |    MIN((1664525*h+1013904223) % 2147483647) AS mh0,
       |    MIN((22695477*h+1) % 2147483647) AS mh1,
       |    MIN((1103515245*h+12345) % 2147483647) AS mh2,
       |    MIN((134775813*h+1) % 2147483647) AS mh3,
       |    MIN((214013*h+2531011) % 2147483647) AS mh4,
       |    MIN((69069*h+7) % 2147483647) AS mh5,
       |    MIN((48271*h+11) % 2147483647) AS mh6,
       |    MIN((16807*h+3) % 2147483647) AS mh7
       |  FROM h GROUP BY 1
       |), bands AS (
       |  SELECT doc_id, 0 AS band, mh0 AS k1, mh1 AS k2 FROM sig UNION ALL
       |  SELECT doc_id, 1, mh2, mh3 FROM sig UNION ALL
       |  SELECT doc_id, 2, mh4, mh5 FROM sig UNION ALL
       |  SELECT doc_id, 3, mh6, mh7 FROM sig
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.k1 = b.k1 AND a.k2 = b.k2
       |   AND a.doc_id < b.doc_id
       |), verified AS (
       |  SELECT c.doc_a, c.doc_b, COUNT(1) AS inter,
       |         MAX(ea.n) AS na, MAX(eb.n) AS nb
       |  FROM cand c
       |  JOIN ex ea ON ea.doc_id = c.doc_a
       |  JOIN ex eb ON eb.doc_id = c.doc_b AND eb.s = ea.s
       |  GROUP BY 1, 2
       |)""".stripMargin
}
