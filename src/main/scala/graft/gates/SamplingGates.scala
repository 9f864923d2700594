package graft.gates

import org.apache.spark.sql.functions._

import graft.gates.Shared.t

/** Dataset sampling, splitting and sharding: hash splits, per-source
  * caps, temperature and weighted sampling, interleaving, DSIR weights,
  * mixture sampling, epoch shuffles, exact splits, stratum weights and
  * rendezvous sharding. */
object SamplingGates {

  val all: Seq[Gate] = Seq(

    // Deterministic seeded train/val/test split + shuffle key: both
    // derive from the engine-portable md5 key hash, so the split is a
    // narrow filter (no shuffle) and the shuffle order reproduces in
    // any engine — gated bit-for-bit against DuckDB's md5.
    Gate("q68_hash_split", (s, dir) =>
      graft.ops.Sampling.hashSplit(
          t(s, dir, "documents").select(col("doc_id")),
          "doc_id", valFrac = 0.1, testFrac = 0.1, seed = "v1")
        .withColumn("shuffle_key",
          graft.ops.Sampling.shuffleKey(col("doc_id"), "v1"))
        .select(col("doc_id"), col("split"), col("shuffle_key"))
        .orderBy("doc_id"),
      """WITH k AS (
        |  SELECT doc_id,
        |         CAST(('0x'||substr(md5('v1:'||CAST(doc_id AS VARCHAR)),1,8))
        |           AS BIGINT) AS shuffle_key
        |  FROM documents
        |)
        |SELECT doc_id,
        |       CASE WHEN shuffle_key % 10000 < 1000 THEN 'val'
        |            WHEN shuffle_key % 10000 < 2000 THEN 'test'
        |            ELSE 'train' END AS split,
        |       shuffle_key
        |FROM k ORDER BY doc_id""".stripMargin),

    // Per-source document cap (the domain-cap/class-balance step):
    // deterministic hash-ordered top-10 per source, portable md5 order
    // so the kept set reproduces bit-for-bit in any engine.
    Gate("q73_source_cap", (s, dir) =>
      graft.ops.Sampling.capPerStratumSeeded(
          t(s, dir, "documents").select(col("doc_id"), col("source")),
          "source", 10, "doc_id", "v1")
        .orderBy("doc_id"),
      """WITH h AS (
        |  SELECT doc_id, source,
        |    CAST(('0x'||substr(md5('v1:'||CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT) AS hk
        |  FROM documents
        |), r AS (
        |  SELECT doc_id, source,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY hk, doc_id) AS rn
        |  FROM h
        |)
        |SELECT doc_id, source FROM r WHERE rn <= 10 ORDER BY doc_id""".stripMargin),

    // Temperature-T=2 source rebalancing over documents (the data-
    // mixing rule): per-source keep probability sqrt(n_min-ish shape),
    // portable-hash Bernoulli gate; gated on the per-source outcome.
    Gate("q90_temperature_resample", (s, dir) =>
      graft.ops.Sampling.temperatureResample(t(s, dir, "documents"),
          "source", "doc_id", temperature = 2.0, seed = "t1")
        .groupBy(col("source"))
        .agg(max(col("n_before")).as("n_before"),
          max(col("keep_prob")).as("keep_prob"),
          count(lit(1)).as("n_after"))
        .orderBy("source"),
      """WITH c AS (
        |  SELECT source, COUNT(1) AS n_before FROM documents GROUP BY 1
        |), p AS (
        |  SELECT source, n_before,
        |         ROUND(POWER(n_before, -0.5)
        |               / MAX(POWER(n_before, -0.5)) OVER (), 6) AS keep_prob
        |  FROM c
        |)
        |SELECT d.source, MAX(p.n_before) AS n_before,
        |       MAX(p.keep_prob) AS keep_prob, COUNT(1) AS n_after
        |FROM documents d JOIN p USING (source)
        |WHERE CAST(('0x'||substr(md5('t1:'||CAST(doc_id AS VARCHAR)),1,8))
        |        AS BIGINT) % 1000000
        |      < CAST(ROUND(p.keep_prob * 1000000) AS BIGINT)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Efraimidis-Spirakis weighted sample-without-replacement: top-200
    // documents weighted by length, content-hash randomness.
    Gate("q97_weighted_sample", (s, dir) =>
      graft.ops.Sampling.weightedSample(
          t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
          "doc_id", "n_chars", n = 200, seed = "ws1")
        .orderBy(col("es_key").desc, col("doc_id")),
      """SELECT doc_id, n_chars,
        |  ROUND(ln((CAST(('0x'||substr(md5('ws1:'||CAST(doc_id AS VARCHAR)),
        |                  1,8)) AS BIGINT) % 1000000 + 0.5) / 1000000.0)
        |        / n_chars, 9) AS es_key
        |FROM documents
        |WHERE n_chars IS NOT NULL AND n_chars > 0
        |ORDER BY es_key DESC, doc_id LIMIT 200""".stripMargin),

    // Deterministic round-robin source interleave (the data-mixing
    // ORDER): per-source seeded-hash shuffle rank, global position
    // (rn-1)*K + sourceIdx — a total order with NO global window.
    Gate("q113_interleave", (s, dir) =>
      graft.ops.Sampling.interleaveBySource(
          t(s, dir, "documents").select(col("doc_id"), col("source")),
          "source", "doc_id", "v1")
        .select(col("doc_id"), col("source"), col("rn"), col("pos"))
        .orderBy("pos"),
      // the null-coalesced srck mirrors interleaveBySource's internal
      // key ('0' for NULL, '1'||source otherwise) so the oracle encodes
      // the same NULL-source contract the spec tests: NULL-source rows
      // survive the join and sort first
      """WITH h AS (
        |  SELECT doc_id, source,
        |    CASE WHEN source IS NULL THEN '0' ELSE '1'||source END AS srck,
        |    CAST(('0x'||substr(md5('v1:'||CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT) AS hk
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, source, srck,
        |    ROW_NUMBER() OVER (PARTITION BY srck ORDER BY hk, doc_id) AS rn
        |  FROM h
        |), reg AS (
        |  SELECT srck,
        |    ROW_NUMBER() OVER (ORDER BY srck) - 1 AS sidx,
        |    COUNT(1) OVER () AS k
        |  FROM (SELECT DISTINCT
        |          CASE WHEN source IS NULL THEN '0' ELSE '1'||source END AS srck
        |        FROM documents)
        |)
        |SELECT doc_id, s.source, CAST(rn AS BIGINT) AS rn,
        |       CAST((rn - 1) * k + sidx AS BIGINT) AS pos
        |FROM s JOIN reg USING (srck)
        |ORDER BY pos""".stripMargin),

    // DSIR importance weights (Xie et al. 2023): per-doc unigram
    // log-likelihood ratio toward the lang='en' target slice, add-one
    // smoothed over the raw vocabulary. Token-keyed aggs + one
    // broadcast scalar attach — text never shuffles.
    Gate("q132_dsir_weights", (s, dir) =>
      graft.ops.Sampling.importanceWeights(t(s, dir, "documents"),
          "doc_id", "text", col("lang") === "en")
        .orderBy("doc_id"),
      """WITH dt AS (
        |  SELECT doc_id, tok, COUNT(1) AS cnt FROM (
        |    SELECT doc_id,
        |      unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |    FROM documents)
        |  WHERE tok <> '' GROUP BY 1, 2
        |), raw AS (
        |  SELECT tok, SUM(cnt) AS cr FROM dt GROUP BY 1
        |), tgt AS (
        |  SELECT tok, COUNT(1) AS ct FROM (
        |    SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |    FROM documents WHERE lang = 'en')
        |  WHERE tok <> '' GROUP BY 1
        |), sc AS (
        |  SELECT (SELECT SUM(cr) FROM raw) AS nr,
        |    (SELECT COUNT(1) FROM raw) AS v,
        |    (SELECT COALESCE(SUM(ct), 0) FROM tgt) AS nt
        |), ratio AS (
        |  SELECT r.tok,
        |    ln(CAST(COALESCE(t.ct, 0) + 1 AS DOUBLE) / (sc.nt + sc.v))
        |      - ln(CAST(r.cr + 1 AS DOUBLE) / (sc.nr + sc.v)) AS lr
        |  FROM raw r LEFT JOIN tgt t USING (tok), sc
        |), pd AS (
        |  SELECT d.doc_id, SUM(d.cnt) AS n_tokens,
        |    ROUND(SUM(d.cnt * ratio.lr), 6) AS log_weight
        |  FROM dt d JOIN ratio USING (tok) GROUP BY 1
        |)
        |SELECT doc.doc_id,
        |  CAST(COALESCE(pd.n_tokens, 0) AS BIGINT) AS n_tokens,
        |  COALESCE(pd.log_weight, 0.0) AS log_weight
        |FROM documents doc LEFT JOIN pd USING (doc_id)
        |ORDER BY doc.doc_id""".stripMargin),

    // Mixture resampling toward target source proportions (the corpus
    // assembly/mixing step): feasible-max downsample-only rates from a
    // bounded source registry, portable md5 hash gate per row — kept
    // set reproducible in any engine, corpus never shuffles.
    Gate("q134_mixture_sample", (s, dir) =>
      graft.ops.Sampling.mixtureSample(
          t(s, dir, "documents").select(col("doc_id"), col("source")),
          "source", "doc_id",
          Map("src1" -> 0.5, "src2" -> 0.3, "src3" -> 0.2), "v1")
        .select(col("doc_id"), col("source"), col("keep_rate"))
        .orderBy("doc_id"),
      """WITH cnt AS (
        |  SELECT source, CAST(COUNT(1) AS DOUBLE) AS n FROM documents
        |  WHERE source IN ('src1', 'src2', 'src3') GROUP BY source
        |), tgt AS (
        |  SELECT * FROM (VALUES ('src1', 0.5), ('src2', 0.3),
        |    ('src3', 0.2)) AS t(source, tshare)
        |), j AS (
        |  SELECT c.source, c.n, t.tshare FROM cnt c JOIN tgt t USING (source)
        |), m AS (
        |  SELECT MIN(n / tshare) AS m FROM j
        |), rates AS (
        |  SELECT source, LEAST(1.0, ROUND(tshare * m.m / n, 9)) AS keep_rate
        |  FROM j, m
        |)
        |SELECT d.doc_id, d.source, r.keep_rate
        |FROM documents d JOIN rates r USING (source)
        |WHERE CAST(('0x'||substr(md5('v1:'||CAST(doc_id AS VARCHAR)),1,8))
        |    AS BIGINT) % 1000000
        |  < CAST(FLOOR(keep_rate * 1000000) AS BIGINT)
        |ORDER BY d.doc_id""".stripMargin),

    // Rendezvous (highest-random-weight) sharding: stable assignment
    // under shard-count growth — going 5 -> 6 shards must move ONLY
    // the docs whose new shard wins the argmax (~1/6 of the corpus),
    // where pmod resharding would move ~5/6. Assignments are argmaxes
    // over portable md5 scores, so the oracle replays every one.
    Gate("q189_rendezvous_shard", (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
          graft.ops.Sharding.rendezvousShard(col("doc_id"), 5)
            .cast("long").as("shard5"),
          graft.ops.Sharding.rendezvousShard(col("doc_id"), 6)
            .cast("long").as("shard6"))
        .withColumn("moved", col("shard5") =!= col("shard6"))
        .orderBy("doc_id"),
      // every argmax assignment replayed from the same portable scores;
      // ties (impossible at 48 bits in practice) break to the LARGER
      // shard id on both sides
      """WITH s5 AS (
        |  SELECT doc_id, s FROM (
        |    SELECT d.doc_id, u.s, row_number() OVER (
        |      PARTITION BY d.doc_id
        |      ORDER BY CAST(('0x'||substr(md5(
        |        'shard:'||u.s||':'||CAST(d.doc_id AS VARCHAR)),1,12))
        |        AS BIGINT) DESC, u.s DESC) AS r
        |    FROM documents d, (SELECT unnest(range(5)) AS s) u)
        |  WHERE r = 1
        |), s6 AS (
        |  SELECT doc_id, s FROM (
        |    SELECT d.doc_id, u.s, row_number() OVER (
        |      PARTITION BY d.doc_id
        |      ORDER BY CAST(('0x'||substr(md5(
        |        'shard:'||u.s||':'||CAST(d.doc_id AS VARCHAR)),1,12))
        |        AS BIGINT) DESC, u.s DESC) AS r
        |    FROM documents d, (SELECT unnest(range(6)) AS s) u)
        |  WHERE r = 1
        |)
        |SELECT d.doc_id, s5.s AS shard5, s6.s AS shard6,
        |  s5.s != s6.s AS moved
        |FROM documents d
        |JOIN s5 ON s5.doc_id = d.doc_id
        |JOIN s6 ON s6.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin),

    // Seeded epoch-shuffle manifest: global position + training batch
    // id for every document under the portable md5 shuffle order,
    // computed WITHOUT a global-order window (per-block row_number +
    // broadcast block offsets). The oracle's single ROW_NUMBER() over
    // the same key must agree on every position.
    Gate("q196_epoch_shuffle", (s, dir) => {
      graft.ops.Sampling.epochPositions(
          t(s, dir, "documents").select("doc_id"), "doc_id", "7", 1000L)
        .select(col("doc_id"), col("shuffle_key"), col("pos"), col("batch"))
        .orderBy("doc_id")
    },
      // one global ROW_NUMBER over the portable md5 key — the exact
      // order the two-phase block formulation must reproduce
      """WITH k AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 8))
        |      AS BIGINT) AS shuffle_key
        |  FROM documents
        |)
        |SELECT doc_id, shuffle_key,
        |  CAST(ROW_NUMBER() OVER (ORDER BY shuffle_key, doc_id) - 1
        |    AS BIGINT) AS pos,
        |  CAST((ROW_NUMBER() OVER (ORDER BY shuffle_key, doc_id) - 1) // 1000
        |    AS BIGINT) AS batch
        |FROM k ORDER BY doc_id""".stripMargin),

    // EXACT-count stratified split (vs q68's in-expectation hash
    // split): per-stratum seeded rank against floor(n·frac) cuts —
    // row-for-row reproducible in any engine with md5 + IEEE doubles.
    Gate("q205_exact_split", (s, dir) => {
      graft.ops.Sampling.exactSplit(
          t(s, dir, "documents").select("doc_id", "source"),
          "source", "doc_id", valFrac = 0.1, testFrac = 0.2, seed = "xs1")
        .orderBy("doc_id")
    },
      // floor(n * frac) in DOUBLE on both sides (0.1e0 forces IEEE, not
      // DuckDB decimal) so the cut indices agree bit-for-bit
      """WITH r AS (
        |  SELECT doc_id, source,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY
        |      CAST(('0x' || substr(md5('xs1:' || CAST(doc_id AS VARCHAR)),
        |        1, 8)) AS BIGINT), doc_id) AS rn,
        |    COUNT(1) OVER (PARTITION BY source) AS n
        |  FROM documents
        |)
        |SELECT doc_id, source,
        |  CASE WHEN rn <= FLOOR(n * 0.1e0) THEN 'val'
        |       WHEN rn <= FLOOR(n * 0.1e0) + FLOOR(n * 0.2e0) THEN 'test'
        |       ELSE 'train' END AS split
        |FROM r ORDER BY doc_id""".stripMargin),

    // Per-stratum Efraimidis-Spirakis weighted sample (the class
    // balancer with weighted inclusion): one stratum-key shuffle,
    // never a global sort; every kept row + rank replayed by the
    // oracle.
    Gate("q214_weighted_stratum", (s, dir) =>
      graft.ops.Sampling.weightedSamplePerStratum(
          t(s, dir, "documents").select("doc_id", "source", "n_chars"),
          "source", "doc_id", "n_chars", n = 10, seed = "ws2")
        .orderBy("source", "rn"),
      // identical ES key: ln((k mod 1e6 + 0.5)/1e6)/weight rounded 9,
      // ranked per stratum
      """WITH k AS (
        |  SELECT doc_id, source, n_chars,
        |    ROUND(ln((CAST(('0x' || substr(md5('ws2:'
        |        || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |      % 1000000 + 0.5e0) / 1000000)
        |      / n_chars, 9) AS es_key
        |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
        |), r AS (
        |  SELECT doc_id, source, n_chars, es_key,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY es_key DESC, doc_id) AS BIGINT) AS rn
        |  FROM k
        |)
        |SELECT doc_id, source, n_chars, es_key, rn
        |FROM r WHERE rn <= 10 ORDER BY source, rn""".stripMargin)
  )
}
