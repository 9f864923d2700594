package graft.gates

import org.apache.spark.sql.functions._

import graft.gates.Shared.{minhashSideCtes, t}

/** Structured Streaming gates: each runs its stream to completion over
  * the bounded events or documents input, restarting from its checkpoint
  * where the name says so, and must equal one batch query on the DuckDB
  * side. */
object StreamingGates {

  /** The FULL [[graft.ops.CorpusClean.clean]] chain over `src` with
    * `sfx`-suffixed CTE names (exact dedup → quality/language gates →
    * in-batch MinHash near-dup with recursive transitive closure →
    * min-id survivors), ending in `clean\$sfx` — so TWO batch-clean
    * chains coexist in one query: the q167 oracle mirrors the
    * streaming ingest loop's per-epoch semantics batch by batch.
    * Gate predicates are verbatim the q105 oracle's. */
  private def cleanChainCtes(sfx: String, src: String): String =
    s"""dedup$sfx AS (
       |  SELECT doc_id, text FROM (
       |    SELECT doc_id, text,
       |      ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
       |    FROM $src) WHERE rn = 1
       |), tokg$sfx AS (
       |  SELECT doc_id, text,
       |         regexp_split_to_array(trim(text), '\\s+') AS w
       |  FROM dedup$sfx
       |), gated$sfx AS (
       |  SELECT doc_id, text FROM tokg$sfx
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
       |), ${minhashSideCtes(sfx, s"gated$sfx")},
       |cand$sfx AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands$sfx a JOIN bands$sfx b
       |    ON a.band = b.band AND a.k1 = b.k1 AND a.k2 = b.k2
       |   AND a.doc_id < b.doc_id
       |), pairs$sfx AS (
       |  SELECT c.doc_a, c.doc_b
       |  FROM cand$sfx c
       |  JOIN ex$sfx ea ON ea.doc_id = c.doc_a
       |  JOIN ex$sfx eb ON eb.doc_id = c.doc_b AND eb.s = ea.s
       |  GROUP BY 1, 2
       |  HAVING COUNT(1)*1.0/(MAX(ea.n)+MAX(eb.n)-COUNT(1)) >= 0.8
       |), edges$sfx AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs$sfx
       |  UNION SELECT doc_b, doc_a FROM pairs$sfx
       |), reach$sfx(src, dst) AS (
       |  SELECT src, dst FROM edges$sfx
       |  UNION
       |  SELECT r.src, e.dst FROM reach$sfx r JOIN edges$sfx e ON r.dst = e.src
       |), losers$sfx AS (
       |  SELECT src AS doc_id FROM reach$sfx GROUP BY src
       |  HAVING src <> LEAST(src, MIN(dst))
       |), clean$sfx AS (
       |  SELECT doc_id, text FROM gated$sfx
       |  WHERE doc_id NOT IN (SELECT doc_id FROM losers$sfx)
       |)""".stripMargin

  val all: Seq[Gate] = Seq(

    // Structured Streaming windowed aggregation run to completion over
    // the bounded events input (complete mode == batch result), so the
    // streaming operator passes through the same DuckDB gate.
    Gate("q30_stream_window", (s, dir) =>
      graft.streaming.StreamAsBatch
        .windowedEventCounts(s, s"$dir/events.parquet", "1 hour")
        .orderBy("window_start", "event_type"),
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |       COUNT(1) AS n, ROUND(SUM(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Watermarked streaming dedup under simulated at-least-once
    // redelivery: the events path read as TWO unioned file streams
    // (every event arrives twice), dropDuplicatesWithinWatermark on
    // event_id — the emitted set must be exactly the original events.
    Gate("q147_stream_dedup", (s, dir) =>
      graft.streaming.StreamAsBatch
        .dedupedEvents(s, s"$dir/events.parquet")
        .orderBy("event_id"),
      """SELECT event_id, user_id, event_type, value
        |FROM events ORDER BY event_id""".stripMargin),

    // Event-time-timeout sessionization (flatMapGroupsWithState) run
    // to completion: every closed session — mid-stream closes on the
    // 30-min gap plus each user's final session when the watermark
    // passes its horizon. Millisecond-precision times (the Event
    // carrier's contract), mirrored by the oracle.
    Gate("q148_stream_sessions", (s, dir) =>
      graft.streaming.StreamAsBatch
        .closedSessions(s, s"$dir/events.parquet", gapSeconds = 1800)
        .orderBy("user_id", "session_start"),
      // mirrors sessionizeClosed at MILLISECOND precision: order and gap
      // on epoch-ms (the Event carrier truncates), sessions via
      // gaps-and-islands, closed = all but each user's last session PLUS
      // the last one when the watermark (global max event-time ms)
      // passed its gap horizon
      """WITH e AS (
        |  SELECT user_id, event_id, value,
        |    CAST(FLOOR(epoch_us(ts) / 1000) AS BIGINT) AS ms
        |  FROM events
        |), b AS (
        |  SELECT user_id, event_id, value, ms,
        |    CASE WHEN ms - lag(ms) OVER w > 1800000
        |         OR lag(ms) OVER w IS NULL THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)
        |), g AS (
        |  SELECT user_id, value, ms,
        |    SUM(brk) OVER (PARTITION BY user_id
        |                   ORDER BY ms, event_id
        |                   ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM b
        |), sess AS (
        |  SELECT user_id, sid, MIN(ms) AS start_ms, MAX(ms) AS end_ms,
        |    CAST(COUNT(1) AS BIGINT) AS n_events,
        |    ROUND(SUM(value), 4) AS sum_value
        |  FROM g GROUP BY 1, 2
        |)
        |SELECT user_id, make_timestamp(start_ms * 1000) AS session_start,
        |  make_timestamp(end_ms * 1000) AS session_end, n_events, sum_value
        |FROM sess
        |WHERE sid < (SELECT MAX(s2.sid) FROM sess s2
        |             WHERE s2.user_id = sess.user_id)
        |   OR end_ms + 1800000 < (SELECT MAX(ms) FROM e)
        |ORDER BY user_id, session_start""".stripMargin),

    // NATIVE session_window streaming aggregation (vs q148's
    // hand-rolled state machine): full µs precision, window end =
    // last event + gap; append mode emits watermark-closed sessions.
    Gate("q149_stream_session_window", (s, dir) =>
      graft.streaming.StreamAsBatch
        .sessionWindows(s, s"$dir/events.parquet", "30 minutes")
        .orderBy("user_id", "session_start"),
      // mirrors session_window at µs precision: a new session when the
      // gap to the previous event is >= 30 min (an event exactly at the
      // previous window's end starts a NEW window); end = last + gap;
      // append emits sessions the ms-granular watermark closed
      """WITH e AS (
        |  SELECT user_id, event_id, value, epoch_us(ts) AS us FROM events
        |), b AS (
        |  SELECT user_id, event_id, value, us,
        |    CASE WHEN us - lag(us) OVER w >= 1800000000
        |         OR lag(us) OVER w IS NULL THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        |), g AS (
        |  SELECT user_id, value, us,
        |    SUM(brk) OVER (PARTITION BY user_id
        |                   ORDER BY us, event_id
        |                   ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM b
        |), sess AS (
        |  SELECT user_id, MIN(us) AS start_us,
        |    MAX(us) + 1800000000 AS end_us,
        |    CAST(COUNT(1) AS BIGINT) AS n_events,
        |    ROUND(SUM(value), 4) AS sum_value
        |  FROM g GROUP BY user_id, sid
        |)
        |SELECT user_id, make_timestamp(start_us) AS session_start,
        |  make_timestamp(end_us) AS session_end, n_events, sum_value
        |FROM sess
        |WHERE end_us <= (SELECT FLOOR(MAX(us) / 1000) * 1000 FROM e)
        |ORDER BY user_id, session_start""".stripMargin),

    // q147's streaming dedup run ACROSS A CHECKPOINT RESTART (stop
    // after the first time-half, resume from the same checkpoint on
    // the second): the union of both runs' emissions must hash-match
    // the SAME oracle as the single run — exactly-once across restart
    // as an oracle gate, not just a spec.
    Gate("q153_stream_dedup_restart", (s, dir) =>
      graft.streaming.StreamAsBatch
        .dedupedEventsRestarted(s, s"$dir/events.parquet")
        .orderBy("event_id"),
      // q153/q154: IDENTICAL oracles to q147/q149 — the restart must be
      // invisible in the result, which is the whole point of the gate.
      """SELECT event_id, user_id, event_type, value
        |FROM events ORDER BY event_id""".stripMargin),

    // q149's native session_window across the same kill-and-resume
    // protocol: sessions spanning the split survive in the state
    // store and emit ONCE with their full extent after the restart.
    Gate("q154_session_restart", (s, dir) =>
      graft.streaming.StreamAsBatch
        .sessionWindowsRestarted(s, s"$dir/events.parquet", "30 minutes")
        .orderBy("user_id", "session_start"),
      """WITH e AS (
        |  SELECT user_id, event_id, value, epoch_us(ts) AS us FROM events
        |), b AS (
        |  SELECT user_id, event_id, value, us,
        |    CASE WHEN us - lag(us) OVER w >= 1800000000
        |         OR lag(us) OVER w IS NULL THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        |), g AS (
        |  SELECT user_id, value, us,
        |    SUM(brk) OVER (PARTITION BY user_id
        |                   ORDER BY us, event_id
        |                   ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM b
        |), sess AS (
        |  SELECT user_id, MIN(us) AS start_us,
        |    MAX(us) + 1800000000 AS end_us,
        |    CAST(COUNT(1) AS BIGINT) AS n_events,
        |    ROUND(SUM(value), 4) AS sum_value
        |  FROM g GROUP BY user_id, sid
        |)
        |SELECT user_id, make_timestamp(start_us) AS session_start,
        |  make_timestamp(end_us) AS session_end, n_events, sum_value
        |FROM sess
        |WHERE end_us <= (SELECT FLOOR(MAX(us) / 1000) * 1000 FROM e)
        |ORDER BY user_id, session_start""".stripMargin),

    // Stream-static broadcast enrichment run to completion: the
    // streaming analog of the batch dimension join, oracle = the plain
    // batch LEFT join (no-dim events survive with NULL category).
    Gate("q160_stream_enrich", (s, dir) =>
      graft.streaming.StreamAsBatch.enrichedEvents(s,
          s"$dir/events.parquet",
          Seq(("click", "engagement"), ("view", "engagement"),
            ("purchase", "revenue")))
        .orderBy("event_id"),
      """WITH dim(event_type, category) AS (
        |  VALUES ('click', 'engagement'), ('view', 'engagement'),
        |         ('purchase', 'revenue')
        |)
        |SELECT e.event_id, e.user_id, e.event_type, d.category, e.value
        |FROM events e LEFT JOIN dim d USING (event_type)
        |ORDER BY e.event_id""".stripMargin),

    // Stream-stream time-bounded inner join run to completion:
    // purchases within 2 hours after a signup by the same user; the
    // watermark+bound pair keeps join state evictable, and the oracle
    // is the equivalent batch inequality join.
    Gate("q161_stream_join", (s, dir) =>
      graft.streaming.StreamAsBatch.joinedWithin(s,
          s"$dir/events.parquet", "signup", "purchase", "2 hours")
        .orderBy("l_id", "r_id"),
      """SELECT l.event_id AS l_id, r.event_id AS r_id, l.user_id,
        |       r.value AS r_value
        |FROM events l JOIN events r
        |  ON l.user_id = r.user_id
        | AND l.event_type = 'signup' AND r.event_type = 'purchase'
        | AND epoch_us(r.ts) >= epoch_us(l.ts)
        | AND epoch_us(r.ts) <= epoch_us(l.ts) + 7200000000
        |ORDER BY 1, 2""".stripMargin),

    // The CONTINUOUS-INGEST loop across a checkpoint restart, as an
    // oracle gate: even-id docs stream in as epoch 0 (clean → corpus
    // + LSH index build), the query stops, odd-id docs arrive, a new
    // query resumes from the same checkpoint as epoch 1 (clean →
    // exact hash anti-join → index query → append survivors). The
    // oracle recomputes BOTH epochs' semantics in SQL (two clean
    // chains + cross-batch exact and near dedup), so the gate holds
    // the whole lifecycle: foreachBatch exactly-once landing, index
    // build + append, and the file source's seen-files log across
    // the kill-and-resume.
    Gate("q167_ingest_restart", (s, dir) =>
      graft.streaming.CorpusIngest.ingestRestarted(s,
          s"$dir/documents.parquet")
        .orderBy("doc_id"),
      // two full clean chains (epoch 0 = even ids, epoch 1 = odd ids)
      // + cross-batch exact hash anti-join + bipartite LSH near-dup of
      // the novel docs against epoch-0 SURVIVORS — the SQL mirror of
      // CorpusIngest's per-epoch semantics across the restart
      s"""WITH RECURSIVE b1i AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
         |), b2i AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 2 <> 0
         |), ${cleanChainCtes("c1", "b1i")},
         |${cleanChainCtes("c2", "b2i")},
         |novelx AS (
         |  SELECT doc_id, text FROM cleanc2
         |  WHERE md5(text) NOT IN (SELECT md5(text) FROM cleanc1)
         |), candx AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bandsc1 a JOIN bandsc2 b
         |    ON a.band = b.band AND a.k1 = b.k1 AND a.k2 = b.k2
         |  WHERE a.doc_id IN (SELECT doc_id FROM cleanc1)
         |    AND b.doc_id IN (SELECT doc_id FROM novelx)
         |), dropx AS (
         |  SELECT DISTINCT doc_b AS doc_id FROM (
         |    SELECT c.doc_a, c.doc_b
         |    FROM candx c
         |    JOIN exc1 ea ON ea.doc_id = c.doc_a
         |    JOIN exc2 eb ON eb.doc_id = c.doc_b AND eb.s = ea.s
         |    GROUP BY 1, 2
         |    HAVING COUNT(1)*1.0/(MAX(ea.n)+MAX(eb.n)-COUNT(1)) >= 0.8)
         |)
         |SELECT doc_id FROM cleanc1
         |UNION ALL
         |SELECT doc_id FROM novelx
         |WHERE doc_id NOT IN (SELECT doc_id FROM dropx)
         |ORDER BY doc_id""".stripMargin),

    // Stream-MAINTAINED aggregate across a kill-and-resume: each
    // micro-batch lands mergeable partials under its own __batch=
    // partition (idempotent under the replayed-batch contract), the
    // query restarts from its checkpoint mid-input, and the merged
    // view must equal the batch aggregate over everything — a
    // double-counted replay or a lost batch breaks the hash.
    Gate("q180_stream_maintained_agg", (s, dir) =>
      graft.streaming.StreamAsBatch.maintainedAggRestarted(
          s, s"$dir/events.parquet")
        .select(col("event_type"), col("n"),
          round(col("total"), 4).as("total"),
          round(col("lo"), 4).as("lo"), round(col("hi"), 4).as("hi"),
          (round(col("total"), 4) / col("n")).as("mean"))
        .orderBy("event_type"),
      // the streaming-maintained state must be indistinguishable from
      // the batch aggregate over the full event set
      """SELECT event_type, COUNT(value) AS n,
        |  ROUND(SUM(value), 4) AS total,
        |  ROUND(MIN(value), 4) AS lo,
        |  ROUND(MAX(value), 4) AS hi,
        |  ROUND(SUM(value), 4) / COUNT(value) AS mean
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Stream-MAINTAINED distinct counts across a kill-and-resume:
    // per-micro-batch HLL sketches land under their own __batch=
    // partition (replay overwrites itself; HLL union is additionally
    // idempotent in the VALUE, so the half-then-restart split cannot
    // perturb the estimate), and the merged view must equal a
    // one-shot sketch build over the full event set bit-for-bit,
    // within the lgK=14 envelope of the exact count the oracle pins.
    Gate("q184_stream_distinct", (s, dir) => {
      val ev = t(s, dir, "events")
      val streamed = graft.streaming.StreamAsBatch
        .maintainedDistinctRestarted(s, s"$dir/events.parquet")
      val pOne = graft.etl.Scratch.dir("dist-oneshot-b")
      graft.etl.MaterializedDistinct.create(ev, Seq("event_type"),
        "user_id", pOne, nBuckets = 8, lgK = 14)
      val one = graft.etl.MaterializedDistinct.read(s, pOne,
          Seq("event_type"))
        .withColumnRenamed("n_distinct_est", "est_oneshot")
      val exact = ev.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_exact"))
      streamed.join(one, Seq("event_type")).join(exact, Seq("event_type"))
        .select(col("event_type"), col("n_exact"),
          (col("n_distinct_est") === col("est_oneshot"))
            .as("stream_equals_oneshot"),
          (abs(col("n_distinct_est") - col("n_exact"))
            <= col("n_exact") * 0.05).as("est_within_5pct"))
        .orderBy("event_type")
    },
      // the sketch-side claims are Spark-computed booleans; the oracle
      // pins the exact counts and demands both claims hold everywhere
      """SELECT event_type,
        |  COUNT(DISTINCT user_id) AS n_exact,
        |  TRUE AS stream_equals_oneshot,
        |  TRUE AS est_within_5pct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Stream-MAINTAINED quantiles across a kill-and-resume — the
    // third leg of the maintained-view family. The bottom-k sample is
    // DETERMINISTIC in the (hash, id) set, so no matter how the
    // stream (and the mid-input restart) chopped the events, the
    // merged state must reproduce the oracle's from-scratch sample
    // and quantile rule over the full table EXACTLY — stronger than
    // the HLL legs' estimate-equality: here every output value is
    // pinned.
    Gate("q190_stream_quantiles", (s, dir) =>
      graft.streaming.StreamAsBatch.maintainedQuantilesRestarted(
          s, s"$dir/events.parquet")
        .orderBy("event_type"),
      // from-scratch rebuild of the deterministic bottom-256 sample and
      // the lower-quantile rule over the full event set — the stream-
      // maintained state must be indistinguishable
      """WITH h AS (
        |  SELECT event_type AS key, event_id AS rid, value AS v,
        |    CAST(('0x'||substr(md5('mq:'||CAST(event_id AS VARCHAR)),1,12))
        |      AS BIGINT) AS h
        |  FROM events WHERE value IS NOT NULL
        |), rk AS (
        |  SELECT key, v,
        |    row_number() OVER (PARTITION BY key ORDER BY h, rid) AS r
        |  FROM h
        |), samp AS (
        |  SELECT key, list(v ORDER BY v) AS vs, COUNT(1) AS n
        |  FROM rk WHERE r <= 256 GROUP BY key
        |)
        |SELECT key AS event_type, n AS n_sample,
        |  vs[CAST(floor((n-1)*0.5) AS BIGINT)+1] AS p50,
        |  vs[CAST(floor((n-1)*0.9) AS BIGINT)+1] AS p90,
        |  vs[CAST(floor((n-1)*0.99) AS BIGINT)+1] AS p99
        |FROM samp ORDER BY event_type""".stripMargin),

    // The same CDC state maintained by a REAL restarted stream
    // (kill-and-resume mid-input): replay safety from latest-per-key
    // idempotence. Same one-shot oracle.
    Gate("q217_cdc_stream", (s, dir) =>
      graft.streaming.StreamAsBatch.maintainedCdcRestarted(
          s, s"$dir/events.parquet")
        .select("user_id", "ts", "event_id", "value")
        .orderBy("user_id"),
      """WITH r AS (
        |  SELECT user_id, ts, event_id, event_type, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events
        |)
        |SELECT user_id, ts, event_id, value
        |FROM r WHERE rn = 1 AND event_type <> 'error'
        |ORDER BY user_id""".stripMargin),

    // The join leg under the streaming kill-and-resume harness:
    // per-batch delta joins landed replay-idempotently under
    // __batch= partitions; the merged batches must equal the
    // one-shot join of all events against the derived per-user dim.
    Gate("q260_join_stream", (s, dir) =>
      graft.streaming.StreamAsBatch
        .maintainedJoinRestarted(s, s"$dir/events.parquet")
        .select(col("event_id"), col("user_id"),
          round(col("u_max"), 4).as("u_max"))
        .orderBy("event_id"),
      // the stream-maintained join equals the one-shot join against
      // the same derived dim (max skips NULLs in both engines)
      """SELECT e.event_id, e.user_id, ROUND(d.u_max, 4) AS u_max
        |FROM events e
        |JOIN (SELECT user_id, MAX(value) AS u_max
        |      FROM events GROUP BY 1) d
        |  ON e.user_id = d.user_id
        |ORDER BY e.event_id""".stripMargin),

    // The same CDC→join composition maintained by a REAL restarted
    // stream (kill-and-resume mid-input): both steps are fixpoints,
    // so the replayed epoch converges. Same one-shot oracle.
    Gate("q262_cdc_join_stream", (s, dir) =>
      graft.streaming.StreamAsBatch
        .cdcJoinRestarted(s, s"$dir/events.parquet")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"),
          round(col("u_max"), 4).as("u_max"))
        .orderBy("user_id"),
      """WITH r AS (
        |  SELECT user_id, ts, event_id, event_type, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events
        |), d AS (
        |  SELECT user_id, MAX(value) AS u_max FROM events GROUP BY 1
        |)
        |SELECT r.user_id, r.ts, r.event_id, r.value,
        |  ROUND(d.u_max, 4) AS u_max
        |FROM r JOIN d ON r.user_id = d.user_id
        |WHERE r.rn = 1 AND r.event_type <> 'error'
        |ORDER BY r.user_id""".stripMargin)
  )
}
