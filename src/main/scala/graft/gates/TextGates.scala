package graft.gates

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.gates.Shared.{minhashGateCtes, t}
import graft.ops.Dedup

/** Text analysis and training-data preparation: text statistics and
  * quality rules, language ID, vocabulary, BPE and language models, PII
  * redaction, markup and line filtering, URL canonicalisation,
  * blocklists, k-anonymity and the end-to-end training-prep pipeline. */
object TextGates {

  /** Pinned BPE merge table for the q126 encode gate and the q120
    * token-budget counts — the production posture: a tokenizer is a
    * RELEASED artifact applied by rank, not retrained per job (the
    * training loop itself is [[graft.ops.Vocab.bpeTrain]], spec-gated
    * against a single-threaded reference). Rules chosen to exercise
    * multi-level cascades on the corpus vocabulary (s,c→sc→sca→scan;
    * j,o→jo→joi→join) and leftmost non-overlap (l,l on "small"). */
  val PinnedBpeMerges: Seq[(String, String)] = Seq(
    ("s", "c"), ("sc", "a"), ("sca", "n"),
    ("j", "o"), ("jo", "i"), ("joi", "n"),
    ("h", "a"), ("ha", "s"), ("has", "h"),
    ("r", "o"), ("ro", "w"),
    ("a", "t"), ("e", "r"), ("l", "l"))

  /** DuckDB mirror of [[graft.ops.Vocab.bpeEncodeFold]] over
    * [[PinnedBpeMerges]], GENERATED from the same table so the two
    * engines can never drift: frame every non-space char as
    * chr(31)‹c›chr(31), then one literal replace per merge rule in
    * rank order. */
  private val BpeApplySql: String = {
    val framed = """regexp_replace(trim(regexp_replace(text, '\s+', ' ', 'g')), '(\S)', chr(31)||'\1'||chr(31), 'g')"""
    PinnedBpeMerges.foldLeft(framed) { case (acc, (a, b)) =>
      s"replace($acc, chr(31)||'$a'||chr(31)||chr(31)||'$b'||chr(31), chr(31)||'$a$b'||chr(31))"
    }
  }

  val all: Seq[Gate] = Seq(

    // Text quality statistics: token counts, BPE-ish token estimate,
    // stopword/punctuation ratios, composite quality score.
    Gate("q18_text_stats", (s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), tokens(col("text")).as("w"))
      d.select(
        col("doc_id"),
        tokenCount(col("w")).cast("long").as("n_tokens"),
        bpeTokenEstimate(col("w")).as("bpe_est"),
        round(aggregate(col("w"), lit(0L), (a, x) => a + length(x)).cast("double")
          / size(col("w")), 6).as("avg_token_len"),
        round(stopwordRatio(col("w")), 6).as("stopword_ratio"),
        round(punctRatio(col("text")), 6).as("punct_ratio"),
        round(qualityScore(col("text"), col("w")), 6).as("quality")
      ).orderBy("doc_id")
    },
      s"""WITH t AS (
         |  SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents
         |), m AS (
         |  SELECT doc_id, text, w,
         |    len(w) AS n_tokens,
         |    len(list_filter(w, x -> x IN ('the','a','of','and','to','in','is'))) AS sw_hits,
         |    (length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')))*1.0
         |      / length(text) AS praw
         |  FROM t
         |)
         |SELECT doc_id,
         |  CAST(n_tokens AS BIGINT) AS n_tokens,
         |  CAST(list_sum(list_transform(w, x -> CAST(ceil(length(x)/4.0) AS BIGINT))) AS BIGINT) AS bpe_est,
         |  ROUND(list_sum(list_transform(w, x -> length(x)))*1.0/n_tokens, 6) AS avg_token_len,
         |  ROUND(sw_hits*1.0/n_tokens, 6) AS stopword_ratio,
         |  ROUND(praw, 6) AS punct_ratio,
         |  ROUND(0.5*least(1.0, n_tokens/100.0) + 0.3*(1.0 - praw)
         |        + 0.2*least(1.0, sw_hits*5.0/n_tokens), 6) AS quality
         |FROM m ORDER BY doc_id""".stripMargin),

    // Heuristic language ID (stopword-panel argmax).
    Gate("q19_lang_id", (s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), tokens(col("text")).as("w"))
      d.select(col("doc_id"),
          hitCount(col("w"), EnStopwords).cast("long").as("en_hits"),
          langId(col("w")).as("lang_pred"))
        .orderBy("doc_id")
    },
      s"""WITH t AS (
         |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents
         |), s AS (
         |  SELECT doc_id,
         |    len(list_filter(w, x -> x IN ('the','a','of','and','to','in','is'))) AS en_hits,
         |    len(list_filter(w, x -> x IN ('el','la','de','que','y','en','un'))) AS es_hits,
         |    len(list_filter(w, x -> x IN ('le','la','de','et','un','les','des'))) AS fr_hits
         |  FROM t
         |)
         |SELECT doc_id, CAST(en_hits AS BIGINT) AS en_hits,
         |  CASE WHEN greatest(en_hits, es_hits, fr_hits) = 0 THEN 'unk'
         |       WHEN en_hits >= es_hits AND en_hits >= fr_hits THEN 'en'
         |       WHEN es_hits >= fr_hits THEN 'es' ELSE 'fr' END AS lang_pred
         |FROM s ORDER BY doc_id""".stripMargin),

    // Document fingerprint: min 32-bit hash over char 5-gram shingles.
    Gate("q20_fingerprint", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), fingerprint(col("text")).as("fp"))
        .orderBy("doc_id"),
      """SELECT doc_id,
        |  list_min(list_transform(generate_series(1, length(text)-4),
        |    i -> CAST(('0x'||substr(md5(substr(text,i,5)),1,8)) AS BIGINT))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Token-budget shard assignment (document-level sequence packing):
    // deterministic order, exclusive running token total, shard =
    // total div budget. Distributed two-phase cumsum (block-local
    // window + broadcast block offsets) — cross-validated against the
    // single-window form in PackingSpec and against DuckDB's global
    // window here.
    Gate("q66_token_shards", (s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"),
          tokenCount(tokens(col("text"))).cast("long").as("n_tokens"))
      graft.ops.Packing.packByBudget(d, "doc_id", "n_tokens", 4096L,
          expr("doc_id div 100"))
        .select(col("doc_id"), col("n_tokens"), col("shard"))
        .orderBy("doc_id")
    },
      s"""WITH t AS (
         |  SELECT doc_id,
         |         len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
         |  FROM documents
         |), c AS (
         |  SELECT doc_id, n_tokens,
         |         COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
         |  FROM t
         |)
         |SELECT doc_id, n_tokens, CAST(off // 4096 AS BIGINT) AS shard
         |FROM c ORDER BY doc_id""".stripMargin),

    // Within-document repetition quality (Gopher-style filter inputs):
    // duplicate word-3-gram fraction and most-common-token dominance.
    Gate("q69_repetition", (s, dir) =>
      graft.ops.Quality.repetitionStats(t(s, dir, "documents"),
          "doc_id", "text", n = 3)
        .select(col("doc_id"), col("n_tokens"), col("n_grams"),
          round(col("dup_ngram_frac"), 6).as("dup_ngram_frac"),
          round(col("top_token_frac"), 6).as("top_token_frac"))
        .orderBy("doc_id"),
      s"""WITH toks AS (
         |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents
         |), grams AS (
         |  SELECT doc_id, len(w) AS n_tokens,
         |         GREATEST(len(w) - 2, 0) AS n_grams,
         |         len(list_distinct(list_transform(generate_series(1, len(w)-2),
         |           i -> w[i]||' '||w[i+1]||' '||w[i+2]))) AS n_distinct
         |  FROM toks
         |), top AS (
         |  SELECT doc_id, MAX(c) AS top_c FROM (
         |    SELECT doc_id, tok, COUNT(1) AS c
         |    FROM (SELECT doc_id, unnest(w) AS tok FROM toks)
         |    GROUP BY doc_id, tok)
         |  GROUP BY doc_id
         |)
         |SELECT g.doc_id, g.n_tokens, g.n_grams,
         |       ROUND(CASE WHEN g.n_grams > 0
         |                  THEN 1.0 - n_distinct*1.0/g.n_grams
         |                  ELSE 0 END, 6) AS dup_ngram_frac,
         |       ROUND(top_c*1.0/g.n_tokens, 6) AS top_token_frac
         |FROM grams g JOIN top USING (doc_id)
         |ORDER BY doc_id""".stripMargin),

    // Per-document TF-IDF top-3 keywords (scores rounded before
    // ranking for cross-engine determinism; token tie-break).
    Gate("q71_tfidf_keywords", (s, dir) =>
      graft.ops.Tfidf.topKeywords(t(s, dir, "documents"),
          "doc_id", "text", k = 3)
        .orderBy("doc_id", "rank"),
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
         |  FROM documents
         |), tf AS (
         |  SELECT doc_id, token, COUNT(1) AS tf FROM toks GROUP BY 1, 2
         |), dfreq AS (
         |  SELECT token, COUNT(1) AS df FROM tf GROUP BY 1
         |), n AS (
         |  SELECT COUNT(1) AS n FROM documents
         |), ranked AS (
         |  SELECT doc_id, token, tf, df,
         |         ROUND(tf * ln(n*1.0/df), 6) AS score,
         |         ROW_NUMBER() OVER (PARTITION BY doc_id
         |           ORDER BY ROUND(tf * ln(n*1.0/df), 6) DESC, token) AS rank
         |  FROM tf JOIN dfreq USING (token), n
         |)
         |SELECT doc_id, token, tf, df, score, rank
         |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin),

    // PII redaction: the driver corpus carries no PII by construction,
    // so contact strings are built deterministically from customer
    // INSIDE the query (both engines build the identical string — the
    // q61 date-spine pattern), then scrubbed by the fixed-order regex
    // battery with per-category audit counts.
    Gate("q72_pii_redact", (s, dir) => {
      val contact = t(s, dir, "customer").select(col("c_custkey"),
        concat(lit("reach "), col("c_name"), lit(" at user"),
          col("c_custkey").cast("string"),
          lit("@mail.example.com or +1-555-"),
          lpad((col("c_custkey") % 10000).cast("string"), 4, "0"),
          lit(" host 10."), (col("c_custkey") % 250).cast("string"),
          lit("."), ((col("c_custkey") * 7) % 250).cast("string"),
          lit(".42 ok")).as("contact"))
      contact.select(col("c_custkey"),
        graft.ops.Redact.redactPii(col("contact")).as("redacted"),
        graft.ops.Redact.emailCount(col("contact")).cast("long").as("n_email"),
        graft.ops.Redact.phoneCount(col("contact")).cast("long").as("n_phone"),
        graft.ops.Redact.ipv4Count(col("contact")).cast("long").as("n_ip"))
        .orderBy("c_custkey")
    },
      """WITH c AS (
        |  SELECT c_custkey,
        |    'reach '||c_name||' at user'||CAST(c_custkey AS VARCHAR)
        |    ||'@mail.example.com or +1-555-'
        |    ||lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
        |    ||' host 10.'||CAST(c_custkey % 250 AS VARCHAR)
        |    ||'.'||CAST((c_custkey*7) % 250 AS VARCHAR)||'.42 ok' AS contact
        |  FROM customer
        |)
        |SELECT c_custkey,
        |  regexp_replace(regexp_replace(regexp_replace(contact,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '[IP]', 'g'),
        |    '\+[0-9]{1,3}(-[0-9]{2,4}){2,4}', '[PHONE]', 'g') AS redacted,
        |  len(regexp_extract_all(contact,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
        |  len(regexp_extract_all(contact,
        |    '\+[0-9]{1,3}(-[0-9]{2,4}){2,4}')) AS n_phone,
        |  len(regexp_extract_all(contact,
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS n_ip
        |FROM c ORDER BY c_custkey""".stripMargin),

    // C4/Gopher quality-rule battery: per-rule statistic + verdict +
    // conjunction, one narrow projection (thresholds chosen to split
    // the corpus on every discriminating rule).
    Gate("q76_quality_rules", (s, dir) =>
      graft.ops.Quality.gopherFlags(t(s, dir, "documents"),
          "doc_id", "text", minTokens = 30, maxTokens = 80,
          minMeanWordLen = 4.0, maxMeanWordLen = 5.0,
          maxSymbolRatio = 0.05, minStopwordHits = 2)
        .select(col("doc_id"), col("n_tokens"),
          round(col("mean_word_len"), 6).as("mean_word_len"),
          round(col("symbol_ratio"), 6).as("symbol_ratio"),
          col("stopword_hits"), col("pass_tokens"), col("pass_word_len"),
          col("pass_symbols"), col("pass_stopwords"), col("pass"))
        .orderBy("doc_id"),
      """WITH t AS (
        |  SELECT doc_id, text, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents
        |), m AS (
        |  SELECT doc_id,
        |    CAST(len(w) AS BIGINT) AS n_tokens,
        |    length(regexp_replace(text, '\s+', '', 'g'))*1.0/len(w) AS mwl,
        |    (length(text) - length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g')))*1.0
        |      / length(text) AS sr,
        |    CAST(len(list_filter(w, x -> x IN ('the','a','of','and','to','in','is')))
        |      AS BIGINT) AS stopword_hits
        |  FROM t
        |)
        |SELECT doc_id, n_tokens,
        |  ROUND(mwl, 6) AS mean_word_len,
        |  ROUND(sr, 6) AS symbol_ratio,
        |  stopword_hits,
        |  (n_tokens >= 30 AND n_tokens <= 80) AS pass_tokens,
        |  (mwl >= 4.0 AND mwl <= 5.0) AS pass_word_len,
        |  (sr <= 0.05) AS pass_symbols,
        |  (stopword_hits >= 2) AS pass_stopwords,
        |  (n_tokens >= 30 AND n_tokens <= 80 AND mwl >= 4.0 AND mwl <= 5.0
        |    AND sr <= 0.05 AND stopword_hits >= 2) AS pass
        |FROM m ORDER BY doc_id""".stripMargin),

    // Corpus-trained bigram LM perplexity (CCNet/KenLM-style quality
    // signal): add-k smoothed conditional bigram model fit on the
    // corpus, each document scored by mean log-probability.
    Gate("q78_lm_perplexity", (s, dir) =>
      graft.ops.LangModel.perplexity(t(s, dir, "documents"),
          "doc_id", "text", k = 0.5)
        .orderBy("doc_id"),
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents
        |), bg AS (
        |  SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(w)-1), i -> w[i])) AS w1,
        |    unnest(list_transform(generate_series(1, len(w)-1), i -> w[i+1])) AS w2
        |  FROM t WHERE len(w) >= 2
        |), model AS (
        |  SELECT w1, w2, COUNT(1) AS c12 FROM bg GROUP BY 1, 2
        |), model2 AS (
        |  SELECT w1, w2, c12, SUM(c12) OVER (PARTITION BY w1) AS c1 FROM model
        |), v AS (
        |  SELECT COUNT(DISTINCT w1) AS v FROM model
        |), scored AS (
        |  SELECT b.doc_id, ln((m.c12 + 0.5)/(m.c1 + 0.5*v.v)) AS logp
        |  FROM bg b JOIN model2 m ON m.w1 = b.w1 AND m.w2 = b.w2, v
        |)
        |SELECT doc_id, COUNT(1) AS n_bigrams,
        |  ROUND(AVG(logp), 6) AS avg_logp,
        |  ROUND(exp(-AVG(logp)), 6) AS ppl
        |FROM scored GROUP BY 1 ORDER BY doc_id""".stripMargin),

    // Top-200 corpus vocabulary (tokenizer-training pass): one
    // partial-aggregated hash-agg; top-N is TakeOrdered; the rank
    // window runs on the 200 survivors only.
    Gate("q81_vocab", (s, dir) =>
      graft.ops.Vocab.vocabulary(t(s, dir, "documents"), "doc_id", "text",
          topN = 200)
        .orderBy("rank"),
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents
        |), c AS (
        |  SELECT token, COUNT(1) AS n, COUNT(DISTINCT doc_id) AS df
        |  FROM toks GROUP BY 1
        |), r AS (
        |  SELECT token, n, df,
        |    ROW_NUMBER() OVER (ORDER BY n DESC, token) AS rank
        |  FROM c
        |)
        |SELECT token, n, df, rank FROM r WHERE rank <= 200
        |ORDER BY rank""".stripMargin),

    // Adjacent-pair frequencies — BPE merge-candidate scoring. Pairs
    // from a lead() window (one shuffle), counted with map-side
    // partial aggregation.
    Gate("q82_bpe_pairs", (s, dir) =>
      graft.ops.Vocab.pairCounts(t(s, dir, "documents"), "doc_id", "text",
          topN = 100)
        .orderBy("rank"),
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents
        |), bg AS (
        |  SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(w)-1), i -> w[i])) AS w1,
        |    unnest(list_transform(generate_series(1, len(w)-1), i -> w[i+1])) AS w2
        |  FROM t WHERE len(w) >= 2
        |), c AS (
        |  SELECT w1, w2, COUNT(1) AS n FROM bg GROUP BY 1, 2
        |), r AS (
        |  SELECT w1, w2, n,
        |    ROW_NUMBER() OVER (ORDER BY n DESC, w1, w2) AS rank
        |  FROM c
        |)
        |SELECT w1, w2, n, rank FROM r WHERE rank <= 100
        |ORDER BY rank""".stripMargin),

    // Per-document character entropy via the single-pass CharEntropy
    // expression (the composed form would explode one row per CHARACTER
    // — |corpus chars| rows through two aggregations).
    Gate("q83_char_entropy", (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
          round(graft.functions.TextFunctions.charEntropy(col("text")), 6)
            .as("entropy"))
        .orderBy("doc_id"),
      """WITH ch AS (
        |  SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents
        |), hist AS (
        |  SELECT doc_id, c, COUNT(1) AS k FROM ch GROUP BY 1, 2
        |), tot AS (
        |  SELECT doc_id, CAST(SUM(k) AS DOUBLE) AS n FROM hist GROUP BY 1
        |)
        |SELECT h.doc_id, ROUND(-SUM((h.k/t.n) * ln(h.k/t.n)), 6) AS entropy
        |FROM hist h JOIN tot t USING (doc_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Overlapping token-window chunking (retrieval/embedding prep):
    // 50-token windows every 40 tokens. Narrow + posexplode — no
    // shuffle before the ORDER BY.
    Gate("q85_chunking", (s, dir) =>
      graft.ops.Chunking.chunkByTokens(t(s, dir, "documents"), "doc_id",
          "text", width = 50, stride = 40)
        .orderBy("doc_id", "chunk_id"),
      """WITH tk AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents
        |), ck AS (
        |  SELECT doc_id, w,
        |    unnest(generate_series(0,
        |      GREATEST(0, CAST(ceil((len(w) - 50) / 40.0) AS INT)))) AS chunk_id
        |  FROM tk
        |)
        |SELECT doc_id, chunk_id,
        |  len(list_slice(w, chunk_id*40 + 1, chunk_id*40 + 50)) AS n_tokens,
        |  array_to_string(list_slice(w, chunk_id*40 + 1, chunk_id*40 + 50), ' ')
        |    AS chunk
        |FROM ck ORDER BY doc_id, chunk_id""".stripMargin),

    // Snapshot diff: old = documents minus every 11th doc; new = all
    // docs with every 13th uppercased -> added/removed/changed rows.
    Gate("q108_snapshot_diff", (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val oldSnap = d.where(col("doc_id") % 11 =!= 0)
      val newSnap = d.withColumn("text",
        when(col("doc_id") % 13 === 0, upper(col("text")))
          .otherwise(col("text")))
      graft.ops.Quality.snapshotDiff(oldSnap, newSnap, "doc_id", "text")
        .orderBy("doc_id")
    },
      """WITH o AS (
        |  SELECT doc_id, md5(text) AS ho FROM documents WHERE doc_id % 11 <> 0
        |), n AS (
        |  SELECT doc_id,
        |    md5(CASE WHEN doc_id % 13 = 0 THEN upper(text) ELSE text END) AS hn
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CASE WHEN ho IS NULL THEN 'added'
        |       WHEN hn IS NULL THEN 'removed'
        |       WHEN ho <> hn THEN 'changed' END AS status
        |FROM o FULL OUTER JOIN n USING (doc_id)
        |WHERE (CASE WHEN ho IS NULL THEN 'added'
        |            WHEN hn IS NULL THEN 'removed'
        |            WHEN ho <> hn THEN 'changed' END) IS NOT NULL
        |ORDER BY doc_id""".stripMargin),

    // Text normalization (lower, collapse whitespace, trim) with a
    // portable content hash of the normalized form.
    Gate("q106_normalize", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          lower(trim(regexp_replace(col("text"), "\\s+", " ")))
            .as("norm_text"))
        .select(col("doc_id"), md5(col("norm_text")).as("norm_hash"),
          length(col("norm_text")).cast("long").as("norm_len"))
        .orderBy("doc_id"),
      """SELECT doc_id,
        |  md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS norm_hash,
        |  CAST(length(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
        |    AS BIGINT) AS norm_len
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Windowed PMI collocations over the corpus (word2vec statistic):
    // pair generation via positional equi-joins, top-50 by PMI.
    Gate("q119_pmi", (s, dir) =>
      graft.ops.Vocab.pmiPairs(t(s, dir, "documents"), "doc_id", "text",
          window = 2, minPairCount = 5, k = 50)
        .orderBy("rank"),
      s"""WITH d AS (
         |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
         |  FROM documents
         |), ts AS (
         |  SELECT doc_id, w, unnest(generate_series(1, len(w))) AS i FROM d
         |), toks AS (
         |  SELECT doc_id, i AS pos, w[i] AS token FROM ts
         |), off AS (
         |  SELECT doc_id, pos, token, unnest(generate_series(1, 2)) AS o
         |  FROM toks
         |), p0 AS (
         |  SELECT LEAST(a.token, b.token) AS tok_a,
         |         GREATEST(a.token, b.token) AS tok_b
         |  FROM off a JOIN toks b
         |    ON a.doc_id = b.doc_id AND b.pos = a.pos + a.o
         |), pc AS (
         |  SELECT tok_a, tok_b, COUNT(1) AS n_ab FROM p0 GROUP BY 1, 2
         |), tc AS (
         |  SELECT token, COUNT(1) AS n FROM toks GROUP BY 1
         |), tt AS (SELECT COUNT(1) AS t FROM toks),
         |pt AS (SELECT SUM(n_ab) AS p FROM pc),
         |scored AS (
         |  SELECT tok_a, tok_b, n_ab,
         |    ROUND(ln((n_ab * 1.0 / pt.p)
         |          / ((na.n * 1.0 / tt.t) * (nb.n * 1.0 / tt.t))), 6) AS pmi
         |  FROM pc
         |  JOIN tc na ON na.token = pc.tok_a
         |  JOIN tc nb ON nb.token = pc.tok_b
         |  CROSS JOIN tt CROSS JOIN pt
         |  WHERE n_ab >= 5
         |)
         |SELECT tok_a, tok_b, CAST(n_ab AS BIGINT) AS n_ab, pmi,
         |  CAST(ROW_NUMBER() OVER (ORDER BY pmi DESC, tok_a, tok_b)
         |       AS BIGINT) AS rank
         |FROM scored QUALIFY rank <= 50 ORDER BY rank""".stripMargin),

    // CAPSTONE composite: the full training-data prep in ONE gated
    // query — exact dedup -> quality/lang gates -> LSH near-dedup
    // (0.8 losers dropped) -> leakage-safe split (0.5-clusters share a
    // split) -> per-split token-budget shards. The LSH pipeline runs
    // ONCE: candidates are threshold-independent, so the 0.8 drop and
    // the 0.5 split clusters filter the same verified pair set.
    Gate("q120_training_prep", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val cfg = graft.ops.CorpusClean.Config()
      // gated feeds the LSH pipeline (which scans it three times:
      // signatures + both verification sides) AND the loser anti-join;
      // pairs feeds the CC loop and the split-pair semi-joins. Both
      // checkpoint-truncated so the exact-dedup window + quality gates
      // and the LSH+verify pipeline each run ONCE — un-materialized,
      // Catalyst re-derives the whole subtree per consumer.
      val gated = graft.etl.Checkpoints.truncate(
        graft.ops.CorpusClean.gate(
          Dedup.dropExactDuplicates(docs, "doc_id", "text"),
          "doc_id", "text", cfg))
      val pairs = graft.etl.Checkpoints.truncate(
        Dedup.minhashNearDups(gated, "doc_id", "text",
          n = cfg.shingleSize, threshold = 0.5))
      val losers = Dedup.nearDupLosers(
          pairs.where(col("jaccard") >= cfg.nearDupThreshold))
        .withColumnRenamed("id", "doc_id")
      val cleaned = gated.join(losers, Seq("doc_id"), "left_anti")
      val cleanedIds = cleaned.select(col("doc_id"))
      val splitPairs = pairs
        .join(cleanedIds.withColumnRenamed("doc_id", "doc_a"),
          Seq("doc_a"), "left_semi")
        .join(cleanedIds.withColumnRenamed("doc_id", "doc_b"),
          Seq("doc_b"), "left_semi")
      val split = Dedup.leakageSafeSplit(cleanedIds, "doc_id", splitPairs,
        valFrac = 0.1, testFrac = 0.1, seed = "v1")
      // REAL token counts: the pinned BPE tokenizer (q126's merge
      // table), not the whitespace proxy — shard budgets now mean
      // actual subword tokens. Narrow expression, still no shuffle.
      val withTok = split.join(
        cleaned.select(col("doc_id"),
          size(graft.expressions.BpePieces(col("text"), PinnedBpeMerges))
            .cast("long").as("n_tokens")),
        "doc_id")
      graft.ops.Packing.packByBudget(withTok, "doc_id", "n_tokens", 4096L,
          expr("doc_id div 100"), partitionCols = Seq("split"))
        .select(col("doc_id"), col("group_id"), col("split"),
          col("n_tokens"), col("shard"))
        .orderBy("doc_id")
    },
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
         |pairs05 AS (
         |  SELECT doc_a, doc_b, inter*1.0/(na+nb-inter) AS j FROM verified
         |  WHERE inter*1.0/(na+nb-inter) >= 0.5
         |), edges08 AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs05 WHERE j >= 0.8
         |  UNION SELECT doc_b, doc_a FROM pairs05 WHERE j >= 0.8
         |), reach08(src, dst) AS (
         |  SELECT src, dst FROM edges08
         |  UNION
         |  SELECT r.src, e.dst FROM reach08 r JOIN edges08 e ON r.dst = e.src
         |), losers AS (
         |  SELECT src AS doc_id FROM reach08 GROUP BY src
         |  HAVING src <> LEAST(src, MIN(dst))
         |), cleaned AS (
         |  SELECT doc_id FROM gated
         |  WHERE doc_id NOT IN (SELECT doc_id FROM losers)
         |), sp AS (
         |  SELECT doc_a, doc_b FROM pairs05
         |  WHERE doc_a IN (SELECT doc_id FROM cleaned)
         |    AND doc_b IN (SELECT doc_id FROM cleaned)
         |), edges05 AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM sp
         |  UNION SELECT doc_b, doc_a FROM sp
         |), reach05(src, dst) AS (
         |  SELECT src, dst FROM edges05
         |  UNION
         |  SELECT r.src, e.dst FROM reach05 r JOIN edges05 e ON r.dst = e.src
         |), comp AS (
         |  SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component
         |  FROM reach05 GROUP BY src
         |), sg AS (
         |  SELECT c.doc_id, COALESCE(p.component, c.doc_id) AS group_id
         |  FROM cleaned c LEFT JOIN comp p USING (doc_id)
         |), spl AS (
         |  SELECT doc_id, group_id,
         |    CASE WHEN b < 1000 THEN 'val' WHEN b < 2000 THEN 'test'
         |         ELSE 'train' END AS split
         |  FROM (SELECT doc_id, group_id,
         |          CAST(('0x'||substr(md5('v1:'||CAST(group_id AS VARCHAR)),1,8))
         |            AS BIGINT) % 10000 AS b
         |        FROM sg)
         |), wt AS (
         |  SELECT s.doc_id, s.group_id, s.split,
         |         CAST((length(t.m) - length(replace(t.m, chr(31), ''))) / 2
         |           AS BIGINT) AS n_tokens
         |  FROM spl s JOIN (SELECT doc_id, $BpeApplySql AS m FROM tokg) t
         |    USING (doc_id)
         |), c2 AS (
         |  SELECT *, COALESCE(SUM(n_tokens) OVER (PARTITION BY split
         |    ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
         |  FROM wt
         |)
         |SELECT doc_id, group_id, split, n_tokens,
         |       CAST(off // 4096 AS BIGINT) AS shard
         |FROM c2 ORDER BY doc_id""".stripMargin),

    // GPT-2-style regex pre-tokenization (RE2-compatible subset so the
    // IDENTICAL pattern runs in both engines): per-doc piece count and
    // an md5 over the exact piece sequence — a bit-level tokenizer-
    // fidelity gate, narrow projection only.
    Gate("q121_pretokenize", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.TextFunctions.preTokens(col("text")).as("__p"))
        .select(col("doc_id"),
          size(col("__p")).cast("long").as("n_pieces"),
          md5(concat_ws("\u0001", col("__p"))).as("piece_hash"))
        .orderBy("doc_id"),
      """WITH p AS (
        |  SELECT doc_id, regexp_extract_all(text,
        |    '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+')
        |    AS pieces
        |  FROM documents
        |)
        |SELECT doc_id, CAST(len(pieces) AS BIGINT) AS n_pieces,
        |       md5(array_to_string(pieces, chr(1))) AS piece_hash
        |FROM p ORDER BY doc_id""".stripMargin),

    // Raw-web entry gate: plant HTML markup (script/style bodies,
    // comments, tags, entities, zero-width chars) on every 3rd doc and
    // decomposed Unicode (combining acute) on another third, then
    // strip + NFC-normalize — gating the full stripMarkup chain and
    // the NormalizeUnicode expression byte-for-byte vs DuckDB's
    // regexp_replace/nfc_normalize. All narrow projections, no shuffle.
    Gate("q125_strip_markup", (s, dir) => {
      val planted = t(s, dir, "documents")
        .select(col("doc_id"),
          when(col("doc_id") % 3 === 0,
            concat(
              lit("<html><head><style>p { color: red; }</style>" +
                "<script type=\"text/javascript\">var x = 1 < 2;" +
                "</script></head><body class=\"main\">" +
                "<!-- boilerplate --><p>"),
              col("text"),
              lit("</p><br/>Tom &amp; Jerry &lt;3 &quot;quoted&quot; " +
                "&#39;s&nbsp;end\u200B\uFEFF</body></html>")))
          .when(col("doc_id") % 3 === 1,
            concat(col("text"), lit(" cafe\u0301 re\u0301sume\u0301")))
          .otherwise(col("text")).as("t"))
      val clean = graft.functions.TextFunctions.normalizeNfc(
        graft.functions.TextFunctions.stripMarkup(col("t")))
      planted
        .select(col("doc_id"), md5(clean).as("clean_hash"),
          length(clean).cast("long").as("clean_len"))
        .orderBy("doc_id")
    },
      // Same planted markup, same RE2-safe strip chain, DuckDB's
      // nfc_normalize vs the NormalizeUnicode expression. chr(8203)/
      // chr(65279)/chr(769) = ZWSP / BOM / combining acute.
      """WITH planted AS (
        |  SELECT doc_id,
        |    CASE
        |      WHEN doc_id % 3 = 0 THEN
        |        '<html><head><style>p { color: red; }</style><script type="text/javascript">var x = 1 < 2;</script></head><body class="main"><!-- boilerplate --><p>'
        |        || text ||
        |        '</p><br/>Tom &amp; Jerry &lt;3 &quot;quoted&quot; &#39;s&nbsp;end'
        |        || chr(8203) || chr(65279) || '</body></html>'
        |      WHEN doc_id % 3 = 1 THEN
        |        text || ' cafe' || chr(769) || ' re' || chr(769) || 'sume' || chr(769)
        |      ELSE text
        |    END AS t
        |  FROM documents
        |), stripped AS (
        |  SELECT doc_id, trim(regexp_replace(regexp_replace(
        |    replace(replace(replace(replace(replace(replace(
        |      regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
        |        '(?s)<script\b[^>]*>.*?</script\s*>', ' ', 'g'),
        |        '(?s)<style\b[^>]*>.*?</style\s*>', ' ', 'g'),
        |        '(?s)<!--.*?-->', ' ', 'g'),
        |        '</?[A-Za-z][^>]*>', ' ', 'g'),
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |      '&nbsp;', ' '), '&amp;', '&'),
        |    '[\x{200B}\x{200C}\x{200D}\x{FEFF}]', '', 'g'),
        |    '\s+', ' ', 'g')) AS s
        |  FROM planted
        |)
        |SELECT doc_id, md5(nfc_normalize(s)) AS clean_hash,
        |  CAST(length(nfc_normalize(s)) AS BIGINT) AS clean_len
        |FROM stripped ORDER BY doc_id""".stripMargin),

    // BPE ENCODING with the pinned merge table: real subword token
    // counts + an md5 over the space-joined piece sequence — gating the
    // BpePieces expression (greedy rank-order application, per-word
    // memo) against DuckDB's replace-fold mirror generated from the
    // SAME table. Narrow single-pass, no shuffle.
    Gate("q126_bpe_encode", (s, dir) =>
      graft.ops.Vocab.bpeEncode(t(s, dir, "documents"),
          "doc_id", "text", PinnedBpeMerges)
        .select(col("doc_id"), col("n_tokens"),
          md5(concat_ws(" ", col("pieces"))).as("pieces_hash"))
        .orderBy("doc_id"),
      s"""WITH enc AS (
         |  SELECT doc_id, $BpeApplySql AS m FROM documents
         |)
         |SELECT doc_id,
         |  CAST((length(m) - length(replace(m, chr(31), ''))) / 2
         |    AS BIGINT) AS n_tokens,
         |  md5(replace(replace(m, chr(31)||chr(31), ' '), chr(31), ''))
         |    AS pieces_hash
         |FROM enc ORDER BY doc_id""".stripMargin),

    // Extended PII scrub (q72's contract widened to SSN / payment-card
    // / US-domestic phone): per-category audit counts on the raw text
    // + md5 of the fully-redacted text gating the whole 6-pattern
    // replace chain. Narrow codegen'd projection, rides the scan.
    Gate("q130_pii_full", (s, dir) => {
      val planted = t(s, dir, "documents")
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0,
            concat(col("text"), lit(" ssn 219-09-"),
              lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
              lit(" end")))
          .when(col("doc_id") % 5 === 1,
            concat(lit("card 4111 1111 1111 "),
              lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
              lit(" or 4012888888881881 "), col("text")))
          .when(col("doc_id") % 5 === 2,
            concat(lit("call (555) 867-"),
              lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
              lit(" or 555-867-1234 "), col("text")))
          .when(col("doc_id") % 5 === 3,
            concat(col("text"), lit(" mail user"),
              col("doc_id").cast("string"),
              lit("@mail.example.com from 10.1."),
              (col("doc_id") % 250).cast("string"), lit(".42")))
          .otherwise(col("text")).as("t"))
      planted.select(col("doc_id"),
          graft.ops.Redact.ssnCount(col("t")).cast("long").as("n_ssn"),
          graft.ops.Redact.cardCount(col("t")).cast("long").as("n_card"),
          graft.ops.Redact.usPhoneCount(col("t")).cast("long")
            .as("n_us_phone"),
          graft.ops.Redact.emailCount(col("t")).cast("long").as("n_email"),
          md5(graft.ops.Redact.redactPiiFull(col("t")))
            .as("redacted_hash"))
        .orderBy("doc_id")
    },
      """WITH planted AS (
        |  SELECT doc_id,
        |    CASE
        |      WHEN doc_id % 5 = 0 THEN text || ' ssn 219-09-'
        |        || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' end'
        |      WHEN doc_id % 5 = 1 THEN 'card 4111 1111 1111 '
        |        || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |        || ' or 4012888888881881 ' || text
        |      WHEN doc_id % 5 = 2 THEN 'call (555) 867-'
        |        || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |        || ' or 555-867-1234 ' || text
        |      WHEN doc_id % 5 = 3 THEN text || ' mail user'
        |        || CAST(doc_id AS VARCHAR) || '@mail.example.com from 10.1.'
        |        || CAST(doc_id % 250 AS VARCHAR) || '.42'
        |      ELSE text
        |    END AS t
        |  FROM documents
        |)
        |SELECT doc_id,
        |  len(regexp_extract_all(t, '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b'))
        |    AS n_ssn,
        |  len(regexp_extract_all(t,
        |    '\b[0-9]{4}-[0-9]{4}-[0-9]{4}-[0-9]{4}\b|\b[0-9]{4} [0-9]{4} [0-9]{4} [0-9]{4}\b|\b[0-9]{16}\b'))
        |    AS n_card,
        |  len(regexp_extract_all(t, '\(\d{3}\) ?\d{3}-\d{4}|\b\d{3}-\d{3}-\d{4}\b'))
        |    AS n_us_phone,
        |  len(regexp_extract_all(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
        |  md5(
        |    regexp_replace(regexp_replace(regexp_replace(
        |    regexp_replace(regexp_replace(regexp_replace(t,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |      '\b[0-9]{4}-[0-9]{4}-[0-9]{4}-[0-9]{4}\b|\b[0-9]{4} [0-9]{4} [0-9]{4} [0-9]{4}\b|\b[0-9]{16}\b', '[CARD]', 'g'),
        |      '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '[SSN]', 'g'),
        |      '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '[IP]', 'g'),
        |      '\+[0-9]{1,3}(-[0-9]{2,4}){2,4}', '[PHONE]', 'g'),
        |      '\(\d{3}\) ?\d{3}-\d{4}|\b\d{3}-\d{3}-\d{4}\b', '[PHONE]', 'g'))
        |    AS redacted_hash
        |FROM planted ORDER BY doc_id""".stripMargin),

    // URL canonicalization + provenance keys: scheme/host lowercased,
    // default ports dropped, tracking params (utm_*/gclid/fbclid)
    // removed with surviving params in original order, fragment
    // dropped; host + naive registrable domain as per-site keys; a
    // malformed leg canonicalizes to NULL (visible, not passed
    // through). Pure regex projections — the whole op rides the scan.
    Gate("q131_url_canon", (s, dir) => {
      val u = t(s, dir, "documents")
        .select(col("doc_id"),
          when(col("doc_id") % 4 === 0,
            concat(lit("HTTPS://WWW.Example-"),
              (col("doc_id") % 20).cast("string"),
              lit(".COM:443/Docs/"), col("doc_id").cast("string"),
              lit("?utm_source=rss&id="), (col("doc_id") % 7).cast("string"),
              lit("&utm_medium=email&page=2#frag")))
          .when(col("doc_id") % 4 === 1,
            concat(lit("http://news.site"), (col("doc_id") % 9).cast("string"),
              lit(".org:8080/a/"), (col("doc_id") % 5).cast("string")))
          .when(col("doc_id") % 4 === 2,
            concat(lit("https://cdn.media"), (col("doc_id") % 5).cast("string"),
              lit(".net/img"), col("doc_id").cast("string"),
              lit(".jpg?gclid=abc123")))
          .otherwise(concat(lit("not a url "), col("doc_id").cast("string")))
          .as("url"))
      u.select(col("doc_id"),
          graft.ops.Urls.canonicalizeUrl(col("url")).as("canon_url"),
          graft.ops.Urls.urlHost(col("url")).as("host"),
          graft.ops.Urls.registrableDomain(graft.ops.Urls.urlHost(col("url")))
            .as("domain"))
        .orderBy("doc_id")
    },
      """WITH u AS (
        |  SELECT doc_id,
        |    CASE
        |      WHEN doc_id % 4 = 0 THEN 'HTTPS://WWW.Example-'
        |        || CAST(doc_id % 20 AS VARCHAR) || '.COM:443/Docs/'
        |        || CAST(doc_id AS VARCHAR) || '?utm_source=rss&id='
        |        || CAST(doc_id % 7 AS VARCHAR) || '&utm_medium=email&page=2#frag'
        |      WHEN doc_id % 4 = 1 THEN 'http://news.site'
        |        || CAST(doc_id % 9 AS VARCHAR) || '.org:8080/a/'
        |        || CAST(doc_id % 5 AS VARCHAR)
        |      WHEN doc_id % 4 = 2 THEN 'https://cdn.media'
        |        || CAST(doc_id % 5 AS VARCHAR) || '.net/img'
        |        || CAST(doc_id AS VARCHAR) || '.jpg?gclid=abc123'
        |      ELSE 'not a url ' || CAST(doc_id AS VARCHAR)
        |    END AS url
        |  FROM documents
        |), parts AS (
        |  SELECT doc_id, url,
        |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
        |      AS scheme,
        |    lower(regexp_extract(url,
        |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:]+)', 1)) AS host,
        |    COALESCE(regexp_extract(url,
        |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#:]+:([0-9]+)', 1), '') AS port,
        |    COALESCE(regexp_extract(url,
        |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1), '') AS path,
        |    COALESCE(regexp_extract(url, '\?([^#]*)', 1), '') AS q
        |  FROM u
        |), cleaned AS (
        |  -- array_to_string of an EMPTY list is NULL in DuckDB
        |  SELECT *, COALESCE(array_to_string(list_filter(string_split(q, '&'),
        |    p -> p <> '' AND NOT regexp_matches(p,
        |      '^(utm_[A-Za-z0-9_]*|gclid|fbclid)=')), '&'), '') AS cq
        |  FROM parts
        |)
        |SELECT doc_id,
        |  CASE WHEN scheme = '' OR host = '' THEN NULL
        |    ELSE scheme || '://' || host
        |      || CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
        |           OR (scheme = 'https' AND port = '443')
        |         THEN '' ELSE ':' || port END
        |      || CASE WHEN path = '' THEN '/' ELSE path END
        |      || CASE WHEN cq = '' THEN '' ELSE '?' || cq END
        |  END AS canon_url,
        |  host,
        |  regexp_extract(host, '([A-Za-z0-9-]+\.[A-Za-z0-9-]+)$', 1) AS domain
        |FROM cleaned ORDER BY doc_id""".stripMargin),

    // First-stage crawl dedup by CANONICAL URL: tracking params and
    // fragments vary per fetch, so raw-URL equality misses what
    // canonical equality catches (~10 docs collapse per page here);
    // unparseable URLs keep every row. One hash agg on the canonical
    // key — runs before any content pass at 100 TB.
    Gate("q133_url_dedup", (s, dir) => {
      val u = t(s, dir, "documents")
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 3,
            concat(lit("no url "), col("doc_id").cast("string")))
          .otherwise(concat(lit("HTTPS://Site"),
            (col("doc_id") % 10).cast("string"), lit(".COM/page/"),
            (col("doc_id") % 50).cast("string"), lit("?utm_campaign=c"),
            col("doc_id").cast("string"), lit("#s"),
            (col("doc_id") % 3).cast("string"))).as("url"))
      graft.ops.Urls.dedupByCanonicalUrl(u, "doc_id", "url")
        .orderBy("doc_id")
    },
      """WITH u AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 3
        |      THEN 'no url ' || CAST(doc_id AS VARCHAR)
        |      ELSE 'HTTPS://Site' || CAST(doc_id % 10 AS VARCHAR)
        |        || '.COM/page/' || CAST(doc_id % 50 AS VARCHAR)
        |        || '?utm_campaign=c' || CAST(doc_id AS VARCHAR)
        |        || '#s' || CAST(doc_id % 3 AS VARCHAR)
        |    END AS url
        |  FROM documents
        |), parts AS (
        |  SELECT doc_id, url,
        |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
        |      AS scheme,
        |    lower(regexp_extract(url,
        |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:]+)', 1)) AS host,
        |    COALESCE(regexp_extract(url,
        |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#:]+:([0-9]+)', 1), '') AS port,
        |    COALESCE(regexp_extract(url,
        |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1), '') AS path,
        |    COALESCE(regexp_extract(url, '\?([^#]*)', 1), '') AS q
        |  FROM u
        |), cleaned AS (
        |  SELECT *, COALESCE(array_to_string(list_filter(string_split(q, '&'),
        |    p -> p <> '' AND NOT regexp_matches(p,
        |      '^(utm_[A-Za-z0-9_]*|gclid|fbclid)=')), '&'), '') AS cq
        |  FROM parts
        |), canon AS (
        |  SELECT doc_id,
        |    CASE WHEN scheme = '' OR host = '' THEN NULL
        |      ELSE scheme || '://' || host
        |        || CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
        |             OR (scheme = 'https' AND port = '443')
        |           THEN '' ELSE ':' || port END
        |        || CASE WHEN path = '' THEN '/' ELSE path END
        |        || CASE WHEN cq = '' THEN '' ELSE '?' || cq END
        |    END AS canon_url
        |  FROM cleaned
        |)
        |SELECT MIN(doc_id) AS doc_id, canon_url,
        |  CAST(COUNT(1) AS BIGINT) AS n_dups
        |FROM canon WHERE canon_url IS NOT NULL GROUP BY canon_url
        |UNION ALL
        |SELECT doc_id, canon_url, 1 AS n_dups
        |FROM canon WHERE canon_url IS NULL
        |ORDER BY doc_id""".stripMargin),

    // C4-style line-level cleaning: minimum words, terminal
    // punctuation, curly-brace and boilerplate-phrase tells — one
    // higher-order filter over the line array per row, no
    // explode/groupBy round-trip, rides the scan.
    Gate("q135_line_filter", (s, dir) => {
      val planted = t(s, dir, "documents")
        .select(col("doc_id"),
          concat(col("text"), lit(".\n"),
            lit("short line\n"),
            lit("This line is long enough to keep.\n"),
            lit("Lorem Ipsum dolor sit amet.\n"),
            lit("if (x) { return y; }\n"),
            lit("Is this kept? Yes it is!")).as("text"))
      graft.ops.CorpusClean.filterLines(planted, "text")
        .select(col("doc_id"), md5(col("text")).as("clean_hash"),
          length(col("text")).cast("long").as("clean_len"))
        .orderBy("doc_id")
    },
      """WITH planted AS (
        |  SELECT doc_id, text || '.' || chr(10)
        |    || 'short line' || chr(10)
        |    || 'This line is long enough to keep.' || chr(10)
        |    || 'Lorem Ipsum dolor sit amet.' || chr(10)
        |    || 'if (x) { return y; }' || chr(10)
        |    || 'Is this kept? Yes it is!' AS t
        |  FROM documents
        |), f AS (
        |  SELECT doc_id, COALESCE(array_to_string(list_filter(
        |    string_split(t, chr(10)), l ->
        |      len(regexp_split_to_array(trim(l), '\s+')) >= 3
        |      AND regexp_matches(trim(l), '[.!?]$')
        |      AND NOT contains(trim(l), '{')
        |      AND NOT contains(trim(l), '}')
        |      AND NOT contains(lower(trim(l)), 'lorem ipsum')
        |      AND NOT contains(lower(trim(l)), 'cookie policy')
        |      AND NOT contains(lower(trim(l)), 'terms of use')
        |    ), chr(10)), '') AS clean
        |  FROM planted
        |)
        |SELECT doc_id, md5(clean) AS clean_hash,
        |  CAST(length(clean) AS BIGINT) AS clean_len
        |FROM f ORDER BY doc_id""".stripMargin),

    // Blocklist screen: which of a fixed phrase list occur in each
    // document — ONE Aho-Corasick automaton pass per row (O(n+hits)
    // regardless of list size) where the composed form pays P
    // contains-probes per row. Overlapping phrases ("scan slow" /
    // "agg row scan" share words; "spark" hits inside longer tokens'
    // contexts) exercise the failure links; the last phrase never
    // matches. Oracle: DuckDB list_filter + contains must agree on
    // the matched set AND its phrase-list order.
    Gate("q183_blocklist", (s, dir) => {
      val phrases = Seq("scan slow", "slow fast table", "agg row scan",
        "table part", "spark", "zebra quantum fox")
      graft.ops.Blocklist.screen(t(s, dir, "documents"), "text", phrases)
        .select(col("doc_id"), col("n_matched"),
          array_join(col("matched"), ",").as("matched"), col("blocked"))
        .orderBy("doc_id")
    },
      // the matched set and its phrase-list order must agree with the
      // one-pass automaton
      """WITH m AS (
        |  SELECT doc_id,
        |    list_filter(['scan slow','slow fast table','agg row scan',
        |      'table part','spark','zebra quantum fox'],
        |      p -> contains(text, p)) AS hits
        |  FROM documents
        |)
        |SELECT doc_id, CAST(len(hits) AS BIGINT) AS n_matched,
        |  COALESCE(array_to_string(hits, ','), '') AS matched,
        |  len(hits) > 0 AS blocked
        |FROM m ORDER BY doc_id""".stripMargin),

    // k-anonymity / l-diversity release audit over quasi-identifiers
    // (lang, source, n_chars bucket), sensitive = n_chars mod 10: one
    // hash aggregation per QI combination with both verdicts.
    Gate("q197_k_anonymity", (s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("len_bucket", expr("n_chars div 200"))
        .withColumn("sens", col("n_chars") % 10)
      graft.ops.Privacy.kAnonymityAudit(d,
          Seq("lang", "source", "len_bucket"), "sens", 5, 3)
        .orderBy("lang", "source", "len_bucket")
    },
      """SELECT lang, source, n_chars // 200 AS len_bucket,
        |  CAST(COUNT(1) AS BIGINT) AS n,
        |  CAST(COUNT(DISTINCT n_chars % 10) AS BIGINT) AS l_div,
        |  COUNT(1) >= 5 AS k_anonymous,
        |  COUNT(DISTINCT n_chars % 10) >= 3 AS l_diverse
        |FROM documents GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),

    // Unigram-LM tokenizer (SentencePiece family, Kudo 2018): seed
    // substring vocabulary + minimum-cost Viterbi segmentation. The
    // Spark side runs the distributed position-DP (maxWordLen rounds
    // of bounded joins over the DISTINCT-word frame); the oracle
    // reaches the same numbers by a DIFFERENT algorithm — recursive
    // full path enumeration — so a shared recurrence bug cannot pass.
    // Costs fold along the winning path in identical order on both
    // sides (the q191 argument), so round(6) is exact.
    Gate("q203_unigram_cost", (s, dir) => {
      val words = graft.ops.Unigram.wordCounts(
        t(s, dir, "documents"), "text", maxWordLen = 12)
      val vocab = graft.ops.Unigram.seedVocab(words, maxPieceLen = 4,
        topV = 200)
      graft.ops.Unigram.segmentCosts(words, vocab, maxPieceLen = 4,
          maxWordLen = 12)
        .select(col("word"), round(col("cost"), 6).as("cost"))
        .orderBy("word")
    },
      // independent algorithm: enumerate EVERY segmentation path by
      // recursive CTE and take the min — vs the Spark side's position
      // DP. Seed vocab replayed identically (top-200 multi-char
      // substrings by (cnt desc, piece) + all single chars).
      """WITH RECURSIVE words AS (
        |  SELECT word, CAST(COUNT(1) AS BIGINT) AS wcnt FROM (
        |    SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS word
        |    FROM documents)
        |  WHERE word <> '' AND len(word) <= 12 GROUP BY 1
        |), p1 AS (
        |  SELECT word, wcnt, unnest(range(1, len(word) + 1)) AS i FROM words
        |), p2 AS (
        |  SELECT word, wcnt, i,
        |    unnest(range(1, least(4, len(word) - i + 1) + 1)) AS l
        |  FROM p1
        |), subs AS (
        |  SELECT substr(word, i, l) AS piece, SUM(wcnt) AS cnt
        |  FROM p2 GROUP BY 1
        |), multi AS (
        |  SELECT piece, cnt FROM subs WHERE len(piece) >= 2
        |  ORDER BY cnt DESC, piece LIMIT 200
        |), kept AS (
        |  SELECT piece, cnt FROM multi
        |  UNION ALL
        |  SELECT piece, cnt FROM subs WHERE len(piece) = 1
        |), vocab AS (
        |  SELECT piece, -ln(CAST(cnt AS DOUBLE) /
        |    (SELECT CAST(SUM(cnt) AS DOUBLE) FROM kept)) AS w
        |  FROM kept
        |), spans AS (
        |  SELECT DISTINCT word, i - 1 AS s, i - 1 + l AS e,
        |    substr(word, i, l) AS piece
        |  FROM p2
        |), edges AS (
        |  SELECT spans.word, s, e, vocab.w FROM spans
        |  JOIN vocab USING (piece)
        |), seg AS (
        |  SELECT word, CAST(0 AS BIGINT) AS pos,
        |    CAST(0.0 AS DOUBLE) AS cost FROM words
        |  UNION ALL
        |  SELECT e.word, e.e AS pos, seg.cost + e.w AS cost
        |  FROM seg JOIN edges e ON e.word = seg.word AND e.s = seg.pos
        |)
        |SELECT w.word, ROUND(MIN(s.cost), 6) AS cost
        |FROM seg s JOIN words w ON s.word = w.word AND s.pos = len(w.word)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Interpolated Kneser-Ney perplexity (q78's add-k upgraded to the
    // continuation-probability smoothing): model = bigram-type frame
    // with two partitioned windows + one 1-row broadcast; the oracle
    // recomputes every statistic and the identical discount formula.
    Gate("q207_kneser_ney", (s, dir) =>
      graft.ops.LangModel.knPerplexity(t(s, dir, "documents"),
          "doc_id", "text")
        .orderBy("doc_id"),
      // every KN statistic recomputed; discounts/smoothers as 0.75e0 /
      // 0.5e0 (DOUBLE, not DuckDB decimal) and the p formula associated
      // exactly as the Spark expression
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents
        |), bg AS (
        |  SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(w)-1), i -> w[i]))
        |      AS w1,
        |    unnest(list_transform(generate_series(1, len(w)-1), i -> w[i+1]))
        |      AS w2
        |  FROM t WHERE len(w) >= 2
        |), model AS (
        |  SELECT w1, w2, COUNT(1) AS c12 FROM bg GROUP BY 1, 2
        |), model2 AS (
        |  SELECT w1, w2, c12,
        |    SUM(c12) OVER (PARTITION BY w1) AS c1,
        |    COUNT(1) OVER (PARTITION BY w1) AS n1fw,
        |    COUNT(1) OVER (PARTITION BY w2) AS n1bw
        |  FROM model
        |), tot AS (
        |  SELECT CAST(COUNT(1) AS DOUBLE) AS t,
        |    CAST(COUNT(DISTINCT w2) AS DOUBLE) AS v
        |  FROM model
        |), scored AS (
        |  SELECT b.doc_id,
        |    ln(greatest(m.c12 - 0.75e0, 0) / m.c1
        |      + (0.75e0 * m.n1fw / m.c1)
        |        * ((m.n1bw + 0.5e0) / (tot.t + (tot.v + 1) * 0.5e0))) AS logp
        |  FROM bg b JOIN model2 m ON m.w1 = b.w1 AND m.w2 = b.w2, tot
        |)
        |SELECT doc_id, CAST(COUNT(1) AS BIGINT) AS n_bigrams,
        |  ROUND(AVG(logp), 6) AS avg_logp,
        |  ROUND(exp(-AVG(logp)), 6) AS ppl
        |FROM scored GROUP BY 1 ORDER BY doc_id""".stripMargin),

    // Distributed suffix array by prefix doubling (Manber-Myers):
    // dense global rank of every suffix of every document. The oracle
    // reaches the same ranks by a DIFFERENT algorithm — materialize
    // every suffix STRING and sort (O(n²) characters, viable only at
    // oracle scale; the doubling schedule is O(n log n) fixed-width
    // rows, the form that survives 100 TB).
    Gate("q208_suffix_ranks", (s, dir) =>
      graft.ops.Suffix.suffixRanks(t(s, dir, "documents"),
          "doc_id", "text")
        .select(col("id").as("doc_id"), col("pos").cast("long").as("pos"),
          col("rank"))
        .orderBy("doc_id", "pos"),
      // independent algorithm: every suffix string materialized and
      // sorted (DENSE_RANK over binary order) vs the Spark side's
      // prefix doubling
      """WITH s AS (
        |  SELECT doc_id, unnest(range(1, len(text) + 1)) AS pos, text
        |  FROM documents WHERE text IS NOT NULL AND len(text) >= 1
        |), suf AS (
        |  SELECT doc_id, pos, substr(text, pos) AS suf FROM s
        |)
        |SELECT doc_id, CAST(pos AS BIGINT) AS pos,
        |  CAST(DENSE_RANK() OVER (ORDER BY suf) AS BIGINT) AS rank
        |FROM suf ORDER BY doc_id, pos""".stripMargin),

    // Zipf's-law fit over the top-500 vocabulary: closed-form least
    // squares of ln(freq) on ln(rank) — the corpus-health check.
    Gate("q218_zipf_fit", (s, dir) =>
      graft.ops.Vocab.zipfFit(t(s, dir, "documents"), "doc_id", "text",
        topN = 500),
      """WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents
        |), c AS (
        |  SELECT token, CAST(COUNT(1) AS DOUBLE) AS n FROM toks GROUP BY 1
        |), r AS (
        |  SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, token) AS rank
        |  FROM c ORDER BY n DESC, token LIMIT 500
        |), p AS (
        |  SELECT ln(CAST(rank AS DOUBLE)) AS x, ln(n) AS y FROM r
        |), a AS (
        |  SELECT CAST(COUNT(1) AS DOUBLE) AS m, SUM(x * y) AS sxy,
        |    SUM(x) AS sx, SUM(y) AS sy, SUM(x * x) AS sxx
        |  FROM p
        |)
        |SELECT CAST(m AS BIGINT) AS n_tokens,
        |  ROUND((m * sxy - sx * sy) / (m * sxx - sx * sx), 6) AS slope,
        |  ROUND((sy - (m * sxy - sx * sy) / (m * sxx - sx * sx) * sx) / m,
        |    6) AS intercept
        |FROM a""".stripMargin),

    // Heaps'-law vocabulary-growth fit V(n) = K*n^beta at power-of-two
    // checkpoints — zipf's companion corpus-health curve; global token
    // positions via the two-phase doc-offset cumsum, never a global
    // row window.
    Gate("q228_heaps_fit", (s, dir) =>
      graft.ops.Vocab.heapsFit(t(s, dir, "documents"), "doc_id", "text"),
      """WITH d AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents
        |), tk AS (
        |  SELECT doc_id, unnest(toks) AS token,
        |    unnest(range(1, len(toks) + 1)) AS pos
        |  FROM d
        |), g AS (
        |  SELECT token, ROW_NUMBER() OVER (ORDER BY doc_id, pos) AS gpos
        |  FROM tk
        |), fp AS (
        |  SELECT token, MIN(gpos) AS first_pos FROM g GROUP BY 1
        |), nn AS (
        |  SELECT COUNT(1) AS n FROM g
        |), cps AS (
        |  SELECT CAST(pow(2, i) AS BIGINT) AS n_tok
        |  FROM generate_series(6, 40) t(i)
        |  WHERE CAST(pow(2, i) AS BIGINT) < (SELECT n FROM nn)
        |  UNION ALL SELECT n FROM nn
        |), vc AS (
        |  SELECT c.n_tok, CAST(COUNT(1) AS BIGINT) AS v
        |  FROM cps c JOIN fp ON fp.first_pos <= c.n_tok GROUP BY 1
        |), p AS (
        |  SELECT ln(CAST(n_tok AS DOUBLE)) AS x, ln(CAST(v AS DOUBLE)) AS y
        |  FROM vc
        |), a AS (
        |  SELECT CAST(COUNT(1) AS DOUBLE) AS m, SUM(x * y) AS sxy,
        |    SUM(x) AS sx, SUM(y) AS sy, SUM(x * x) AS sxx
        |  FROM p
        |)
        |SELECT CAST(m AS BIGINT) AS n_points,
        |  ROUND((m * sxy - sx * sy) / (m * sxx - sx * sx), 6) AS slope,
        |  ROUND((sy - (m * sxy - sx * sy) / (m * sxx - sx * sx) * sx) / m,
        |    6) AS intercept
        |FROM a""".stripMargin),

    // Flesch reading-ease per document aggregated by word-count band
    // - the classical readability screen beside the Gopher/C4 rules.
    Gate("q244_readability", (s, dir) =>
      graft.ops.Quality.readability(t(s, dir, "documents"),
          "doc_id", "text")
        .orderBy("band"),
      """WITH d AS (
        |  SELECT CAST(len(string_split_regex(trim(text), '\s+'))
        |      AS DOUBLE) AS w,
        |    CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
        |      AS DOUBLE) AS sent,
        |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
        |      AS DOUBLE) AS syl
        |  FROM documents
        |  WHERE text IS NOT NULL AND len(trim(text)) >= 1
        |), f AS (
        |  SELECT least(CAST(floor(w / 20) AS BIGINT), 4) AS band,
        |    CAST(ROUND((206.835 - 1.015 * (w / sent)
        |      - 84.6 * (syl / w)) * 1e6, 0) AS BIGINT) AS fm
        |  FROM d
        |)
        |SELECT band, CAST(COUNT(1) AS BIGINT) AS n_docs,
        |  ROUND(CAST(SUM(fm) AS DOUBLE) / COUNT(1) / 1e6, 6)
        |    AS mean_flesch
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin),

    // Global top-20 corpus words WITHOUT a global sort of the count
    // frame: per-hash-bucket complete counts, per-bucket top-k
    // windows, then one bounded candidate ordering.
    Gate("q248_heavy_hitters", (s, dir) =>
      graft.ops.TopK.globalTopK(
        t(s, dir, "documents")
          .select(explode(split(trim(col("text")), "\\s+")).as("w"))
          .where(length(col("w")) >= 1),
        "w", k = 20)
        .orderBy("rank"),
      """WITH w AS (
        |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
        |  FROM documents WHERE text IS NOT NULL
        |), c AS (
        |  SELECT w, COUNT(1) AS n FROM w WHERE len(w) >= 1 GROUP BY 1
        |)
        |SELECT w, n,
        |  CAST(ROW_NUMBER() OVER (ORDER BY n DESC, w) AS BIGINT) AS rank
        |FROM c ORDER BY n DESC, w LIMIT 20""".stripMargin),

    // Degenerate-document parity gate: the corpus generators never
    // emit empty/whitespace-only/NULL text, so the per-row text
    // expressions' edge semantics (CharEntropy, PostingEntries, the
    // tokens() split contract) were spec-pinned but GATE-invisible.
    // This query appends four constructed degenerates to the corpus
    // and computes each expression over the union; the oracle builds
    // the same union in SQL, so the hash match covers exactly the
    // empty-input class. (Winnow is structurally exempt: its shared
    // `length >= 11` guard excludes degenerates on both sides.)
    Gate("q272_degenerate_docs", (s, dir) => {
      import s.implicits._
      val degenerates = Seq(
        (90000001L, ""), (90000002L, "   \t "),
        (90000003L, null.asInstanceOf[String]), (90000004L, "x"))
        .toDF("doc_id", "text")
      val aug = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .unionByName(degenerates)
      // stage __es once per row (PostingEntries is single-eval but
      // NOT codegen'd — referencing it twice in one projection would
      // tokenize each doc twice)
      aug.select(col("doc_id"), col("text"),
          graft.expressions.PostingEntries(col("text")).as("__es"))
        .select(col("doc_id"),
          length(col("text")).cast("long").as("n_chars"),
          array_size(filter(graft.functions.TextFunctions.tokens(col("text")),
            w => length(w) >= 1)).cast("long").as("n_tokens"),
          array_size(col("__es")).cast("long").as("n_entries"),
          aggregate(col("__es"), lit(0L),
            (a, e) => a + e.getField("tf")).as("dl"),
          round(graft.functions.TextFunctions.charEntropy(col("text")), 6)
            .as("entropy"))
        .orderBy("doc_id")
    },
      // the same union + per-row formulas in SQL; `+ 0.0` normalizes
      // the IEEE -0.0 a single-distinct-char doc's -SUM(...) produces
      """WITH aug AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT * FROM (VALUES
        |    (CAST(90000001 AS BIGINT), ''),
        |    (CAST(90000002 AS BIGINT), '   ' || chr(9) || ' '),
        |    (CAST(90000003 AS BIGINT), NULL),
        |    (CAST(90000004 AS BIGINT), 'x')) AS v(doc_id, text)
        |), ch AS (
        |  SELECT doc_id, unnest(string_split(text, '')) AS c FROM aug
        |), hist AS (
        |  SELECT doc_id, c, COUNT(1) AS k FROM ch GROUP BY 1, 2
        |), tot AS (
        |  SELECT doc_id, CAST(SUM(k) AS DOUBLE) AS n FROM hist GROUP BY 1
        |), ent AS (
        |  SELECT h.doc_id,
        |    ROUND(-SUM((h.k/t.n) * ln(h.k/t.n)) + 0.0, 6) AS entropy
        |  FROM hist h JOIN tot t USING (doc_id) GROUP BY 1
        |)
        |SELECT a.doc_id,
        |  CAST(length(a.text) AS BIGINT) AS n_chars,
        |  CAST(len(list_filter(regexp_split_to_array(trim(a.text), '\s+'),
        |    w -> len(w) >= 1)) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(regexp_split_to_array(trim(a.text), '\s+')))
        |    AS BIGINT) AS n_entries,
        |  CAST(len(regexp_split_to_array(trim(a.text), '\s+')) AS BIGINT)
        |    AS dl,
        |  CASE WHEN a.text IS NULL THEN NULL
        |       WHEN length(a.text) = 0 THEN 0.0
        |       ELSE e.entropy END AS entropy
        |FROM aug a LEFT JOIN ent e USING (doc_id)
        |ORDER BY a.doc_id""".stripMargin)
  )
}
