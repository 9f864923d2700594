package graft

import org.apache.spark.sql.SparkSession

/** Scale-evidence main: runs the heavy dedup/clean/capstone pipelines
  * (q65 production-shape LSH, q67 clustering, q105 corpus clean, q120
  * training prep) on each given documents dir and reports wall time
  * AND result cardinalities — including the raw LSH candidate-pair
  * count, the quantity that would betray quadratic blowup. Run on
  * sf0.1 and a synthesized 10x corpus (tools/gen_scale.py) to convert
  * the "bucketed join, never all-pairs" design claims into measured
  * growth rates.
  *
  *   sbt "runMain graft.ScaleProof /root/testdata/sf0.1 /tmp/scale10"
  */
object ScaleProof {

  private val Timed = Seq("q65_minhash_prod", "q67_dedup_clusters",
    "q105_corpus_clean", "q120_training_prep",
    // round 7: the retrieval leg — posting aggregation + fused
    // rankers + positional joins must also grow linearly in docs
    "q112_hybrid_rrf", "q142_phrase_search",
    // round 9: the new dedup/linkage family — pigeonhole containment,
    // capped+sub-blocked and sorted-neighborhood linkage, winnowing
    // (one-pass expression) — each must hold its bounded-fan-out /
    // scan-speed shape through the decades
    "q166_containment_join", "q169_linkage_subblocked",
    "q170_sorted_neighborhood", "q172_winnow_robust",
    // round 10: epoch-shuffle two-phase ranks and feature hashing
    // must track corpus rows; the unigram DP and the KN model run on
    // Heaps-scale frames (distinct words / bigram types), so their
    // times must FLATTEN as the synthetic vocabulary saturates
    "q196_epoch_shuffle", "q202_hash_features", "q203_unigram_cost",
    "q207_kneser_ney",
    // round 10 second wave: the corpus-curve fits (zipf ranks a
    // bounded top-N; heaps' two-phase offsets + per-checkpoint
    // conditional sums must track corpus tokens) and the chi-square
    // contingency fold (alphabet-sized after one aggregation)
    "q218_zipf_fit", "q224_chi2", "q228_heaps_fit",
    // round 11: the reworked suffix ranks — tie-only refinement with
    // the budgeted one-shot finish; at 100x the active set exceeds
    // the finish budget, so this measures the doubling-loop guard
    // path, not just the small-corpus shortcut
    "q208_suffix_ranks")

  /** Optional slice filter (comma-separated name prefixes via
    * `SPARK_GRAFT_SCALE_ONLY`): the 100x corpus' full pass runs ~20
    * minutes end-to-end, so dev runs select sections. Section names
    * beyond the Timed queries: `lsh_candidates`, `posting` (index
    * build + persisted hybrid serve), `rededup` (full vs incremental),
    * `containment_capped`. Unset = everything (the record protocol). */
  private val Only: Option[Seq[String]] =
    sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)

  private def selected(name: String): Boolean =
    Only.forall(_.exists(name.startsWith))

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ScaleProof <docsDir> [<docsDir> ...]")
    val spark = GraftSession.create()

    args.foreach { dir =>
      val sections = scala.collection.mutable.ArrayBuffer.empty[String]
      // round 12: the analytics pack's events-frame ops — q253's path
      // frame is alphabet-bounded (≤ |event types|³ distinct paths)
      // and q255's cohort frame week×offset-bounded, so wall time
      // must track event ROWS (the sessionize/cohort scan), never
      // users² or paths×users. Runs whenever the dir carries an
      // events table (tools/gen_scale_events.py builds 10×/100× dirs
      // with shifted-user replicas: same alphabets, scaled rows).
      if (new java.io.File(s"$dir/events.parquet").exists) {
        // q88/q23 joined in round 13 for the SKEWED corpus protocol
        // (gen_scale_events_skew.py: one whale user owns ~10% of
        // events) — the per-user window family must survive a single
        // giant partition, not just uniform replicas
        Seq("q253_event_paths", "q254_growth_accounting",
            "q255_cohort_ltv", "q256_daily_percentiles",
            "q257_top_movers", "q88_funnel", "q23_sessionize")
          .filter(selected)
          .foreach { name =>
            val t = System.nanoTime()
            val rows = SparkEntry.queries(name)(spark, dir).count()
            val sec = (System.nanoTime() - t) / 1e9
            sections += f""""$name":{"rows":$rows,"sec":$sec%.2f}"""
            sweep(spark)
          }
      }
      // round 12: maintained-join refresh cost vs delta size — create
      // the state from 90% of events (the amortized base build), then
      // time ONLY the 10%-delta refresh: the claim under test is that
      // refresh reads the delta plus touched bucket partitions, never
      // the standing base (at fixed bucket count every bucket is
      // touched here, so the honest expectation is refresh ∝ corpus —
      // what must NOT appear is refresh re-running the base build).
      if (new java.io.File(s"$dir/events.parquet").exists &&
          selected("mjoin_refresh")) {
        import org.apache.spark.sql.functions.col
        val ev = graft.etl.Tables.table(spark, dir, "events")
          .select("event_id", "user_id", "value")
        val dim = ev.groupBy(col("user_id").as("u"))
          .agg(org.apache.spark.sql.functions.max(col("value")).as("u_max"))
        val path = graft.etl.Scratch.dir("scale-mjoin")
        val t0 = System.nanoTime()
        graft.etl.MaterializedJoin.create(
          ev.where(col("event_id") % 10 =!= 0), dim,
          Seq("user_id"), Seq("u"), path, nBuckets = 16)
        val createSec = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        graft.etl.MaterializedJoin.refresh(spark, path,
          ev.where(col("event_id") % 10 === 0),
          dim.limit(0), Seq("user_id"), Seq("u"), nBuckets = 16)
        val refreshSec = (System.nanoTime() - t1) / 1e9
        val rows = graft.etl.MaterializedJoin.read(spark, path).count()
        sections += f""""mjoin_create":{"sec":$createSec%.2f}"""
        sections += f""""mjoin_refresh_10pct":{"rows":$rows,"sec":$refreshSec%.2f}"""
        sweep(spark)
      }
      if (!new java.io.File(s"$dir/documents.parquet").exists) {
        // events-only scale dir: no document sections to run
        println(s"""{"dir":"$dir",""" + sections.mkString(",") + "}")
      } else {
      val docs = graft.etl.Tables.table(spark, dir, "documents")
        .select("doc_id", "text")
      val nDocs = docs.count()
      // raw band-bucket candidates at the q65 production shape — the
      // pre-verification pair surface
      if (selected("lsh_candidates")) {
        val t0 = System.nanoTime()
        val cands = graft.ops.Dedup.lshCandidates(
          graft.ops.Dedup.minhashSignatures(docs, "doc_id", "text", 3, 128),
          "doc_id", 32, 4).count()
        val candSec = (System.nanoTime() - t0) / 1e9
        sections +=
          f""""lsh_candidates":{"rows":$cands,"sec":$candSec%.2f}"""
        sweep(spark)
      }
      Timed.filter(selected).foreach { name =>
        val t = System.nanoTime()
        val rows = SparkEntry.queries(name)(spark, dir).count()
        val sec = (System.nanoTime() - t) / 1e9
        sections += f""""$name":{"rows":$rows,"sec":$sec%.2f}"""
        sweep(spark)
      }
      // round 8 (reworked round 13): the hybrid ranker's PRODUCTION
      // shape — build the FULL index once (token-sorted postings + df
      // + doc norms + stats, the amortized cost), then serve the query
      // batch from it. The serve reads only query-term postings
      // (pushed-down IN over token-sorted files), so its time must
      // stay FLAT across the decades while the build tracks corpus
      // size — the separation that justifies q112's inline residual.
      if (selected("posting")) {
        val idxDir = graft.etl.Scratch.dir("scale-hybidx")
        val tIdx = System.nanoTime()
        graft.ops.Retrieval.writeHybridIndex(docs, "doc_id", "text",
          idxDir, nPartitions = 8)
        val idxSec = (System.nanoTime() - tIdx) / 1e9
        val qs = spark.createDataFrame(Seq(
          (1L, "spark join fast"), (2L, "hash table scan"),
          (3L, "stream window state"))).toDF("query_id", "qtext")
        val tHyb = System.nanoTime()
        val hybRows = graft.ops.Retrieval.hybridTopKFromIndex(
          spark, idxDir, "doc_id",
          qs, "query_id", "qtext", kPerLeg = 20, k = 10).count()
        val hybSec = (System.nanoTime() - tHyb) / 1e9
        sections += f""""hybrid_index_build":{"sec":$idxSec%.2f}"""
        sections +=
          f""""q159_hybrid_serve":{"rows":$hybRows,"sec":$hybSec%.2f}"""
        sweep(spark)
      }

      // round 10: blocklist screening at a PRODUCTION list size (2000
      // phrases + the gate's naturals) — one Aho-Corasick pass per
      // row, so time must track corpus bytes, not list size. The
      // aggregate over n_matched/blocked forces evaluation (a bare
      // count() would let column pruning drop the automaton entirely).
      if (selected("blocklist")) {
        import org.apache.spark.sql.functions.{col, sum, when}
        val phrases = (1 to 2000).map(i => s"phrase$i needle") ++
          Seq("scan slow", "slow fast table", "agg row scan",
            "table part", "spark")
        val t0 = System.nanoTime()
        val r = graft.ops.Blocklist.screen(docs, "text", phrases)
          .agg(sum(col("n_matched")),
            sum(when(col("blocked"), 1L).otherwise(0L)))
          .head()
        val sec = (System.nanoTime() - t0) / 1e9
        sections += f""""blocklist_2005":{"hits":${r.getLong(0)},""" +
          f""""blocked":${r.getLong(1)},"sec":$sec%.2f}"""
        sweep(spark)
      }
      // round 10: rendezvous sharding at a real shard fan-out (64) —
      // N scores + argmax per row, narrow, no shuffle; the sum forces
      // the expression to run. Timed in BOTH forms: the portable-md5
      // oracle reference and the xxhash64 production path.
      if (selected("rendezvous")) {
        import org.apache.spark.sql.functions.{col, sum}
        val t0 = System.nanoTime()
        val r = docs.select(graft.ops.Sharding
            .rendezvousShard(col("doc_id"), 64).cast("long").as("s"))
          .agg(sum(col("s"))).head().getLong(0)
        val sec = (System.nanoTime() - t0) / 1e9
        sections += f""""rendezvous_64_md5":{"shard_sum":$r,"sec":$sec%.2f}"""
        val t1 = System.nanoTime()
        val rf = docs.select(graft.ops.Sharding
            .rendezvousShardFast(col("doc_id"), 64).cast("long").as("s"))
          .agg(sum(col("s"))).head().getLong(0)
        val secF = (System.nanoTime() - t1) / 1e9
        sections +=
          f""""rendezvous_64_fast":{"shard_sum":$rf,"sec":$secF%.2f}"""
        sweep(spark)
      }

      // round 8: incremental dedup vs full re-dedup — the snapshot-diff
      // value proposition MEASURED: after a recrawl (~12% delta), does
      // delta×corpus near-dup checking beat re-deduping the whole new
      // snapshot?
      import org.apache.spark.sql.functions._
      val next = docs.where(col("doc_id") % 37 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 11 === 0, concat(col("text"), lit(" rev2")))
            .otherwise(col("text")).as("text"))
        .unionByName(docs.where(col("doc_id") % 53 === 0)
          .select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
      if (selected("rededup")) {
        val tFull = System.nanoTime()
        val fullRows = graft.ops.Dedup.minhashNearDups(
          next, "doc_id", "text", n = 3, threshold = 0.5,
          nPerms = 128, bands = 32, rowsPerBand = 4).count()
        val fullSec = (System.nanoTime() - tFull) / 1e9
        val tInc = System.nanoTime()
        val incRows = graft.ops.Dedup.fuzzyJoin(
          graft.ops.Snapshots.changedDocs(docs, next, "doc_id", "text"),
          "doc_id", "text", docs, "doc_id", "text",
          n = 3, threshold = 0.5).count()
        val incSec = (System.nanoTime() - tInc) / 1e9
        sections +=
          f""""full_rededup_prod":{"rows":$fullRows,"sec":$fullSec%.2f}"""
        sections +=
          f""""incremental_delta_dedup":{"rows":$incRows,"sec":$incSec%.2f}"""
        sweep(spark)
      }

      // round 9: EXACT containment (q166's shape) follows every
      // posting of a small-side prefix shingle, so hot shingles make
      // it grow with df — the measured superlinear row. candDfCap is
      // the designed 100 TB path: drop candidate postings hotter than
      // the cap (completeness traded for boundedness, documented in
      // Dedup.containmentJoin); this times that path at the q166 shape
      // so the growth table shows BOTH.
      if (selected("containment_capped")) {
        import org.apache.spark.sql.functions.{length => slen, substring}
        val excerpts = docs.where(col("doc_id") % 17 === 0)
          .select((col("doc_id") + 20000000L).as("doc_id"),
            substring(col("text"), 40, 160).as("text"))
          .where(slen(col("text")) >= 40)
        val tCap = System.nanoTime()
        val capRows = graft.ops.Dedup.containmentJoin(excerpts, "doc_id",
          "text", docs, "doc_id", "text", n = 3, minContainment = 0.8,
          candDfCap = 200).count()
        val capSec = (System.nanoTime() - tCap) / 1e9
        sections +=
          f""""containment_capped":{"rows":$capRows,"sec":$capSec%.2f}"""
        sweep(spark)
      }

      println(s"""{"dir":"$dir","docs":$nDocs,""" +
        sections.mkString(",") + "}")
      }
    }
    spark.stop()
  }

  /** Between-section hygiene, mirroring Bench's per-query contract. */
  private def sweep(spark: SparkSession): Unit = {
    graft.etl.Checkpoints.sweep(spark)
    graft.etl.Scratch.sweep()
  }
}
