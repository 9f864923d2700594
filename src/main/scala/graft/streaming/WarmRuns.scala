package graft.streaming

import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap

/** Per-JVM registry of WARM streaming runs: a completed gate run's
  * [[BoundedStream.Run]] (session plus staged-input, checkpoint and
  * sink/state dirs), keyed by
  * (gate, input path, parameters), so a LATER IDENTICAL invocation in
  * the same JVM RESUMES the query from the warm checkpoint instead of
  * re-staging and re-processing the whole input. The resumed query
  * reconciles its offset/commit logs, finds no new files, and stops:
  * what that invocation measures is the genuine restart-from-checkpoint
  * cost (the operation a production stream pays on every redeploy),
  * not a from-scratch rebuild of state the first run already built.
  *
  * BENCH PROTOCOL: warm reuse is [[enabled]]-gated, and the comparative
  * bench (`graft.Bench`) turns it OFF for both its passes — the timed
  * vs-oracle numbers are COLD end-to-end rebuilds, the same work the
  * DuckDB comparator does in its timed pass. Restart-from-checkpoint
  * timings are measured in a separate, clearly-labeled post-pass
  * (`"restart"` in the bench JSON) excluded from the comparable total.
  *
  * Correctness is untouched: the FIRST invocation of any key always
  * runs the full protocol (including the mid-input kill-and-resume
  * where the gate has one), the correctness harness (`graft.Verify`)
  * invokes each gate exactly once per JVM so it can never take a
  * warm path, and a resumed run's sink/state is byte-identical to
  * the run that produced it (exactly-once file sink / idempotent
  * batch partials — nothing new arrives). Warm artifacts live in
  * sweep-exempt scratch ([[graft.etl.Scratch.retainedDir]]), bounded
  * to one set per distinct key. */
private[graft] object WarmRuns {

  /** Warm reuse on/off (default on). `graft.Bench` sets this false for
    * its comparable warm-up + timed passes so every streaming gate
    * rebuilds cold, then true for the separate restart-metric pass.
    * Also consulted by [[graft.etl.Scratch.retainedDir]]: with reuse
    * off there is nothing to retain, so warm-artifact dirs degrade to
    * ordinary sweepable scratch and cold passes leak nothing. */
  @volatile var enabled: Boolean = true

  private val attempts = new AtomicLong()

  /** Monotonic count of [[put]] calls (counted even when disabled):
    * a delta across one query execution identifies the query as
    * streaming-warm-capable, which is how Bench picks the gates for
    * its restart-metric pass without a hardcoded name list. */
  def putAttempts: Long = attempts.get()

  private val cache = TrieMap.empty[String, BoundedStream.Run]

  /** The cached run for `key`, provided every one of its dirs still
    * exists (a vanished artifact — external cleanup — falls back to a
    * cold rebuild). Always None while [[enabled]] is false. */
  private[streaming] def get(key: String): Option[BoundedStream.Run] =
    if (!enabled) None
    else cache.get(key).filter { r =>
      val ok = r.dirs.forall(d => new java.io.File(d).exists())
      if (!ok) cache.remove(key)
      ok
    }

  private[streaming] def put(key: String, r: BoundedStream.Run): Unit = {
    attempts.incrementAndGet()
    if (enabled) cache.put(key, r)
  }
}
