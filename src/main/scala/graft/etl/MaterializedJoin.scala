package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession

/** Incrementally-maintained INNER EQUI-JOIN materialization — the
  * join leg of the maintained-view family ([[MaterializedAgg]] /
  * [[MaterializedDistinct]] / [[MaterializedQuantiles]] /
  * [[MaterializedCdc]]), via the classic counting/delta rule for
  * insert-only view maintenance (Blakeley, Larson & Tompa, SIGMOD
  * 1986; Gupta & Mumick's survey): with J = A ⋈ B,
  *
  *   ΔJ = ΔA ⋈ (B ∪ ΔB)  ∪  A ⋈ ΔB
  *
  * — each delta joins the OTHER side's standing state exactly once
  * (ΔA⋈ΔB lands in the first term only), so a refresh never rescans
  * the join it has already emitted.
  *
  * Scale posture (100 TB): both sides are persisted hash-bucketed on
  * their join keys (`__bucket = pmod(xxhash64(keys), nBuckets)` —
  * the same value on both sides for equal keys, which is what makes
  * a bucket a JOIN-CLOSED unit: matching rows always share a
  * bucket). A refresh therefore (a) reads only the standing-side
  * bucket partitions the delta touches — a daily delta touching 1%
  * of key space reads ~1% of a 10⁹-row side; (b) joins
  * delta-vs-touched-buckets, never base-vs-base; and (c) lands the
  * new join rows under a fresh `__epoch=` partition — under the
  * insert-only contract the materialized join is append-only, so no
  * committed file is ever rewritten (the same property the zone-map
  * layout exploits for time travel).
  *
  * Refresh atomicity: every refresh writes its J/A/B additions under
  * its own `__epoch=<e>` partitions and THEN writes a commit marker
  * (`_commits/<e>`, written last) — the `_zonemap_v` pattern. Reads
  * see only committed epochs, so a crash mid-refresh leaves a TORN
  * epoch that is invisible; replaying the refresh reuses the same
  * epoch number and `mode(overwrite)` replaces the torn dirs before
  * the marker commits. No fence file, no duplicate join rows.
  *
  * UPDATES/DELETES: the insert-only delta rule cannot expire rows,
  * so per-key latest semantics compose with [[MaterializedCdc]]
  * upstream — maintain the CDC state there, feed each refresh's
  * emitted upserts ([[MaterializedCdc.refreshEmit]], tombstones
  * included) into [[applyUpserts]], which REWRITES the touched
  * bucket partitions of J as expire+insert (a fixpoint — replaying
  * the same upsert batch converges, which is what makes the
  * streaming composition crash-safe). Initialize that mode with
  * [[createFromCdc]]; do not mix the two layouts on one path.
  *
  * Payload column names of the two sides must be disjoint (the join
  * output carries both); key columns may be named differently per
  * side but must be type-identical (xxhash64 is type-sensitive — a
  * BIGINT⋈INT key pair would bucket apart). */
object MaterializedJoin {

  private def bucketed(df: DataFrame, keys: Seq[String],
      nBuckets: Int): DataFrame =
    df.withColumn("__bucket",
      pmod(xxhash64(keys.map(col): _*), lit(nBuckets.toLong)))

  /** `df` as the `__bucket`-partitioned table at `path`, spread over
    * `tasks` write tasks by bucket. */
  private def writeBuckets(df: DataFrame, tasks: Int, path: String): Unit =
    MaterializedAgg.writePartitioned(df.repartition(tasks, col("__bucket")),
      "__bucket", path)

  private def joinCond(a: DataFrame, b: DataFrame, keysA: Seq[String],
      keysB: Seq[String]): Column =
    keysA.zip(keysB).map { case (ka, kb) => a(ka) === b(kb) }
      .reduce(_ && _) && a("__bucket") === b("__bucket")

  /** The join output frame: A's columns (keys included) + B's payload
    * columns (B's key columns dropped — they equal A's) + `__bucket`. */
  private def joined(a: DataFrame, b: DataFrame, keysA: Seq[String],
      keysB: Seq[String]): DataFrame = {
    val bPayload = b.columns.filterNot(c =>
      keysB.contains(c) || c == "__bucket").toSeq
    a.join(b, joinCond(a, b, keysA, keysB), "inner")
      .select(a.col("*") +: bPayload.map(b(_)): _*)
  }

  // ----------------------------------------------------------------
  // Epoch commit log (insert-only batch path)

  private def commitsPath(path: String) =
    new org.apache.hadoop.fs.Path(s"$path/_commits")

  private def fs(spark: SparkSession, path: String) =
    commitsPath(path).getFileSystem(GraftSession.hadoopConf(spark))

  /** Highest committed epoch, -1 if none (also the marker that a
    * path uses the epoch layout at all). */
  private def maxCommitted(spark: SparkSession, path: String): Int = {
    val p = commitsPath(path)
    val f = fs(spark, path)
    if (!f.exists(p)) -1
    else f.listStatus(p).map(_.getPath.getName.toInt).foldLeft(-1)(math.max)
  }

  private def commit(spark: SparkSession, path: String, e: Int): Unit =
    fs(spark, path)
      .create(new org.apache.hadoop.fs.Path(commitsPath(path), e.toString),
        true)
      .close()

  /** Committed view of one epoch-partitioned side/join dir. */
  private def committedRead(spark: SparkSession, p: String,
      maxEpoch: Int): DataFrame =
    spark.read.parquet(p).where(col("__epoch") <= maxEpoch).drop("__epoch")

  /** Initialize the state at `path` from the two sides' current
    * content: persists bucketed copies of A and B plus the
    * materialized join, all under `__epoch=0`, committed last. */
  def create(a: DataFrame, b: DataFrame, keysA: Seq[String],
      keysB: Seq[String], path: String, nBuckets: Int = 64): Unit = {
    val spark = a.sparkSession
    // one file per bucket partition (repartition on the bucket before
    // the partitioned write): without it every task writes a sliver
    // into every bucket dir — tasks x buckets small files whose open
    // cost dominates the bucket-pruned re-reads a refresh does.
    // The two side landings are independent — overlapped ([[Par]]);
    // J depends on both and stays after the barrier.
    Par.run(
      () => writeBuckets(bucketed(a, keysA, nBuckets), nBuckets,
        s"$path/A/__epoch=0"),
      () => writeBuckets(bucketed(b, keysB, nBuckets), nBuckets,
        s"$path/B/__epoch=0"))
    writeBuckets(joined(spark.read.parquet(s"$path/A/__epoch=0"),
        spark.read.parquet(s"$path/B/__epoch=0"), keysA, keysB), nBuckets,
      s"$path/J/__epoch=0")
    commit(spark, path, 0)
  }

  /** Absorb side deltas (INSERT-only contract). Cost: each delta is
    * joined against ONLY the other side's touched bucket partitions
    * (plus the sibling delta); new join rows and the deltas
    * themselves land under this refresh's `__epoch` partitions —
    * committed files are never opened outside the touched buckets
    * and never rewritten at all. Either delta may be empty.
    *
    * Crash safety: the commit marker is written LAST; a torn refresh
    * (some epoch dirs written, no marker) is invisible to [[read]]
    * and to later refreshes, and REPLAYING the refresh overwrites
    * the torn epoch dirs before committing — the caller retries the
    * whole refresh, never reconciles partial state by hand. */
  def refresh(spark: SparkSession, path: String,
      deltaA: DataFrame, deltaB: DataFrame, keysA: Seq[String],
      keysB: Seq[String], nBuckets: Int = 64): Unit = {
    val committed = maxCommitted(spark, path)
    require(committed >= 0,
      s"no committed state at $path — create() first")
    val e = committed + 1 // a torn previous attempt reused: overwritten
    // the two delta materializations (and their bounded bucket-id
    // collects) are independent — overlapped ([[Par]])
    var dA: DataFrame = null
    var dB: DataFrame = null
    var touchedA: Array[Long] = null
    var touchedB: Array[Long] = null
    Par.run(
      () => {
        dA = Checkpoints.truncate(bucketed(deltaA, keysA, nBuckets))
        touchedA = dA.select("__bucket").distinct()
          .collect().map(_.getLong(0)) // bounded: at most nBuckets values
      },
      () => {
        dB = Checkpoints.truncate(bucketed(deltaB, keysB, nBuckets))
        touchedB = dB.select("__bucket").distinct()
          .collect().map(_.getLong(0))
      })
    // ΔA ⋈ (B_old restricted to ΔA's buckets ∪ ΔB) — the only term
    // that sees ΔB alongside standing B, so ΔA⋈ΔB emits exactly once
    val term1 =
      if (touchedA.isEmpty) None
      else Some(joined(dA,
        committedRead(spark, s"$path/B", committed)
          .where(col("__bucket").isin(touchedA: _*))
          .unionByName(dB), keysA, keysB))
    // A_old (restricted to ΔB's buckets) ⋈ ΔB
    val term2 =
      if (touchedB.isEmpty) None
      else Some(joined(
        committedRead(spark, s"$path/A", committed)
          .where(col("__bucket").isin(touchedB: _*)), dB, keysA, keysB))
    val newJ = (term1.toSeq ++ term2.toSeq).reduceOption(_ unionByName _)
    // the three per-epoch landings are independent of one another
    // (J reads only COMMITTED state plus the truncated deltas) —
    // overlapped; only the marker must happen-after all of them
    Par.run(
      () => newJ.foreach(writeBuckets(_, nBuckets, s"$path/J/__epoch=$e")),
      () => if (touchedA.nonEmpty)
        writeBuckets(dA, nBuckets, s"$path/A/__epoch=$e"),
      () => if (touchedB.nonEmpty)
        writeBuckets(dB, nBuckets, s"$path/B/__epoch=$e"))
    commit(spark, path, e) // written last: the refresh IS this marker
    Checkpoints.free(dA); Checkpoints.free(dB)
  }

  /** The maintained join, as of the last COMMITTED refresh (torn
    * epochs invisible). Reads the CDC-composed layout transparently
    * (no commit log there: its rewrites are fixpoint-idempotent). */
  def read(spark: SparkSession, path: String): DataFrame = {
    val committed = maxCommitted(spark, path)
    if (committed < 0) readComposedJ(spark, path).drop("__bucket")
    else committedRead(spark, s"$path/J", committed).drop("__bucket")
  }

  /** The composed-layout J, falling back to the `_schema` sidecar
    * when every bucket has been expired (an empty partitioned dir
    * cannot be schema-inferred). */
  private def readComposedJ(spark: SparkSession, path: String): DataFrame =
    try spark.read.parquet(s"$path/J")
    catch {
      case e: org.apache.spark.sql.AnalysisException =>
        if (fs(spark, path)
            .exists(new org.apache.hadoop.fs.Path(s"$path/_schema")))
          spark.read.parquet(s"$path/_schema")
        else throw e
    }

  // ----------------------------------------------------------------
  // CDC composition: updates + deletes via per-key latest semantics.

  /** Initialize the CDC-COMPOSED state: `live` is the current
    * latest-per-key table ([[MaterializedCdc.read]] — tombstones
    * already suppressed), `b` the standing dimension. Persists a
    * bucketed B plus the materialized live ⋈ B; A's state lives in
    * the upstream CDC table, not here. */
  def createFromCdc(live: DataFrame, b: DataFrame, keysA: Seq[String],
      keysB: Seq[String], path: String, nBuckets: Int = 64): Unit = {
    // J joins the in-memory bucketed B (same rows as the persisted
    // copy — deterministic bucketing), so the B landing, the schema
    // sidecar, and the J landing are mutually independent ([[Par]])
    val bb = bucketed(b, keysB, nBuckets)
    val j = joined(bucketed(live, keysA, nBuckets), bb, keysA, keysB)
    Par.run(
      () => createSide(b, keysB, path, nBuckets),
      // schema sidecar: lets read()/applyUpserts survive the state
      // where every bucket has been expired by deletes
      () => GraftSession.write(j.limit(0).coalesce(1))
        .mode("overwrite").parquet(s"$path/_schema"),
      () => writeBuckets(j, math.min(nBuckets, 8), s"$path/J"))
  }

  /** Apply one CDC emission batch ([[MaterializedCdc.refreshEmit]]:
    * each touched key's new LATEST row, tombstones included) to the
    * composed join as expire+insert: the touched J bucket partitions
    * are REWRITTEN as (standing rows of unchanged keys) ∪ (new
    * non-tombstone rows ⋈ B) via dynamic partition overwrite.
    * Replay-safe by FIXPOINT, not by fencing: re-applying the same
    * batch expires the rows it inserted and re-inserts them
    * identically. A touched bucket whose keys were ALL deleted gets
    * no rows in the overwrite output — its stale partition dir is
    * removed explicitly afterwards (same-batch replay converges on
    * that cleanup too).
    *
    * `upserts` is consumed THREE times (touched probe, rebuild,
    * cleanup); unless its plan is a deterministic narrow
    * Project/Filter over already-checkpointed blocks it is truncated
    * to one snapshot first, so all three reads agree even for
    * nondeterministic or expensive caller plans. */
  def applyUpserts(spark: SparkSession, path: String, upserts: DataFrame,
      keysA: Seq[String], keysB: Seq[String], opCol: String,
      deleteOp: String, nBuckets: Int = 64,
      knownTouched: Option[Array[Long]] = None): Unit = {
    // skip the defensive re-materialization when the emission is
    // already checkpointed blocks ([[MaterializedCdc.refreshEmit]]'s
    // contract) — re-projecting those blocks three times is cheaper
    // than a fourth eager job in a foreachBatch body; an arbitrary
    // lazy plan still gets truncated (it is consumed three times).
    // The skip demands MORE than LogicalRDD leaves: the plan is
    // evaluated three times below (touched probe, keep/out rebuild,
    // empty-bucket cleanup), so anything but a deterministic narrow
    // Project/Filter over the checkpointed blocks (e.g. a sampled or
    // rand-salted transform, or an aggregation worth running once)
    // must be pinned to ONE snapshot by the truncate.
    def narrowDet(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
      p match {
        case _: org.apache.spark.sql.execution.LogicalRDD => true
        case pj: org.apache.spark.sql.catalyst.plans.logical.Project =>
          pj.projectList.forall(_.deterministic) && narrowDet(pj.child)
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          f.condition.deterministic && narrowDet(f.child)
        case a: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias =>
          narrowDet(a.child)
        case _ => false
      }
    val preMat = narrowDet(upserts.queryExecution.analyzed)
    val u =
      if (preMat) bucketed(upserts, keysA, nBuckets)
      else Checkpoints.truncate(bucketed(upserts, keysA, nBuckets))
    // knownTouched: the upstream CDC merge already derived the touched
    // buckets — valid ONLY when its keyCol/nBuckets equal keysA/
    // nBuckets here (the composition contract both call sites share);
    // passing it saves one serialized probe job per micro-batch
    val touched = knownTouched.getOrElse(
      u.select("__bucket").distinct()
        .collect().map(_.getLong(0))) // bounded: at most nBuckets values
    if (touched.nonEmpty) {
      val keep = readComposedJ(spark, path)
        .where(col("__bucket").isin(touched: _*))
        .join(u.select(keysA.map(col): _*).distinct(), keysA, "left_anti")
      val ins = joined(u.where(col(opCol) =!= deleteOp),
        spark.read.parquet(s"$path/B")
          .where(col("__bucket").isin(touched: _*)), keysA, keysB)
      val out = Checkpoints.truncate(
        keep.unionByName(ins)
          .repartition(math.min(nBuckets, 8), col("__bucket")))
      MaterializedAgg.replacePartitions(out, "__bucket", s"$path/J")
      // dynamic overwrite only replaces partitions PRESENT in the
      // output; a fully-expired bucket must be cleared by hand
      val written = out.select("__bucket").distinct()
        .collect().map(_.getLong(0)).toSet
      val f = fs(spark, path)
      touched.filterNot(written).foreach { bkt =>
        f.delete(new org.apache.hadoop.fs.Path(s"$path/J/__bucket=$bkt"),
          true)
      }
      Checkpoints.free(out)
    }
    // never free a pre-materialized caller frame — its lifetime (and
    // the free) belongs to the caller
    if (!preMat) Checkpoints.free(u)
  }

  // ----------------------------------------------------------------
  // Streaming maintenance: per-micro-batch delta joins, exactly-once.

  /** Persist ONLY the standing (build) side — the setup for
    * stream-maintained joins where deltas arrive on one side. */
  def createSide(b: DataFrame, keysB: Seq[String], path: String,
      nBuckets: Int = 64): Unit =
    writeBuckets(bucketed(b, keysB, nBuckets), nBuckets, s"$path/B")

  /** Join one micro-batch of the delta side against the standing
    * side's TOUCHED bucket partitions only, landing the result under
    * `__batch=<batchId>` via dynamic partition overwrite — the same
    * exactly-once-by-idempotence contract as
    * [[MaterializedAgg.appendBatchPartials]]: a crash-replayed batch
    * replaces its own partition's half-written files instead of
    * emitting duplicate join rows. Batches are disjoint in the
    * source rows (the stream delivers each row once across batch
    * ids), so the union of batch partitions IS the maintained
    * join. */
  def appendBatchDelta(batchA: DataFrame, batchId: Long, path: String,
      keysA: Seq[String], keysB: Seq[String], nBuckets: Int = 64): Unit = {
    val dA = Checkpoints.truncate(bucketed(batchA, keysA, nBuckets))
    val touched = dA.select("__bucket").distinct()
      .collect().map(_.getLong(0))
    if (touched.nonEmpty)
      MaterializedAgg.replacePartitions(joined(dA,
          batchA.sparkSession.read.parquet(s"$path/B")
            .where(col("__bucket").isin(touched: _*)), keysA, keysB)
        .withColumn("__batch", lit(batchId))
        .repartition(math.min(nBuckets, 8), col("__bucket")), "__batch",
        s"$path/J")
    Checkpoints.free(dA)
  }

  /** The stream-maintained join across all committed batches. */
  def readMergedBatches(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/J").drop("__bucket", "__batch")
}
