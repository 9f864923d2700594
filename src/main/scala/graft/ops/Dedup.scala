package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.GraftSession
import graft.etl.Checkpoints

import graft.functions.TextFunctions._

/** Deduplication operators for training-data pipelines: exact
  * (content-hash), n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Scale posture (100 TB): every operator is a pure shuffle-on-key plan —
  * exact dedup is one hash aggregation on the content hash; MinHash
  * signatures are one aggregation over exploded shingles; LSH candidate
  * generation joins on (band, key) buckets so only probable near-dups
  * are ever paired. The all-pairs `jaccardPairs` is the verification
  * primitive — quadratic per shingle bucket — and takes a document-
  * frequency cap to drop degenerate hot shingles (stopword-only
  * shingles), the standard skew guard for this join.
  */
object Dedup {

  /** Exact-duplicate groups: one row per distinct content, with the
    * surviving (minimum) id and the multiplicity. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** Keep exactly one row (minimum id) per distinct content. */
  def dropExactDuplicates(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1).drop("__rn")
  }

  /** Exploded distinct word-n-gram shingle table:
    * (id, s shingle, n = |doc's shingle set|). The base relation for
    * Jaccard verification and MinHash. */
  def shingleTable(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    // Staged projections, not one nested expression: tokenization is
    // expensive and referenced once per shingle inside the lambda — if
    // composed inline, Catalyst inlines split() into every element_at
    // call (and into the explode-inferred filter), turning a linear scan
    // quadratic. As separate non-cheap multi-use projections they
    // survive CollapseProject and each row tokenizes exactly once.
    df.select(col(idCol), tokens(col(textCol)).as("__w"))
      .select(col(idCol), wordShingles(col("__w"), n).as("sh"))
      .select(col(idCol), explode(col("sh")).as("s"), size(col("sh")).as("n"))

  /** All-pairs n-gram Jaccard similarity >= threshold. Exact but
    * quadratic within a shingle bucket; cap bucket width with
    * `maxDocFreq` (drop shingles occurring in more documents) when the
    * corpus has hot shingles. Output: doc_a < doc_b, jaccard. */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.5,
      maxDocFreq: Option[Int] = None): DataFrame = {
    // The pair-generation join keys on the 64-bit xxhash of the shingle,
    // not the string: the shuffle carries one long per row instead of an
    // n-word string. For D distinct shingles the expected number of
    // colliding shingle pairs is ~D²/2⁶⁵ (≈1e-7 at D=1e6) — and a
    // collision only perturbs a count when both shingles co-occur in a
    // doc pair. DedupSpec asserts hash-key ≡ string-key on the corpus.
    val ex0 = shingleTable(df, idCol, textCol, n)
      .select(col(idCol), xxhash64(col("s")).as("sk"), col("n"))
    val ex = maxDocFreq match {
      case Some(cap) =>
        val dfreq = ex0.groupBy("sk").agg(count(lit(1)).as("__df"))
          .where(col("__df") <= cap).select("sk")
        ex0.join(dfreq, "sk")
      case None => ex0
    }
    val a = ex.select(col(idCol).as("doc_a"), col("sk"), col("n").as("na"))
    val b = ex.select(col(idCol).as("doc_b"), col("sk"), col("n").as("nb"))
    a.join(b, "sk")
      // Length-ratio prune (exact, not a heuristic): J = inter/union
      // <= min(na,nb)/max(na,nb), so a pair with min < t*max can never
      // reach the threshold — drop it BEFORE the pair rows hit the
      // aggregation exchange. Catalyst folds this into the join filter.
      .where(col("doc_a") < col("doc_b")
        && col("na") >= lit(threshold) * col("nb")
        && col("nb") >= lit(threshold) * col("na"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("inter"), max("na").as("na"), max("nb").as("nb"))
      .select(col("doc_a"), col("doc_b"),
        (col("inter") / (col("na") + col("nb") - col("inter"))).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Exact all-pairs Jaccard via PREFIX FILTERING (AllPairs/PPJoin
    * family, Bayardo et al. 2007) — same output as [[jaccardPairs]],
    * sub-quadratic candidate generation: under a global shingle order
    * (ascending document frequency, hash tie-break), a document's
    * PREFIX is its first |d| − ⌈t·|d|⌉ + 1 shingles. If J(A,B) ≥ t
    * with |A| ≤ |B| then |A∩B| ≥ ⌈t·|A|⌉, and if prefix(A) ∩ B were
    * empty every common shingle would sit in A's last ⌈t·|A|⌉ − 1
    * positions — fewer than |A∩B|, contradiction. So joining the
    * smaller side's prefix against the larger side's full shingle set
    * finds every qualifying pair; exact verification then computes the
    * true Jaccard from the full shingle tables.
    *
    * Why this is the 100 TB shape for EXACT near-dup: prefixes hold
    * each document's RAREST shingles, so hot shingles (the quadratic
    * blow-up in [[jaccardPairs]]' full self-join) never generate
    * candidates from the prefix side — candidate volume is Σ over rare
    * shingles of (prefix-df × df) instead of Σ over all shingles of
    * df².
    *
    * Plan shape: the expensive exploded stages run ONCE — the corpus is
    * shingled/hashed a single time and reduced to a per-document
    * df-ordered shingle ARRAY (a doc-level frame, materialized with an
    * eager localCheckpoint so the four downstream consumers don't each
    * replay tokenization; same lineage-truncation pattern as the CC /
    * PageRank loops). Prefix = array slice (no per-doc rank window over
    * the exploded corpus), candidate generation is one shuffle-on-sk
    * join of the exploded slices, and verification is
    * `array_intersect` on the two candidates' full sets attached by
    * doc-id hash joins — no second pass over exploded shingles.
    * [[jaccardPairs]] remains the cheaper plan for small/clean
    * bucketed inputs (fewer stages); this one survives scale-up. */
  def jaccardPairsPrefix(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.5): DataFrame = {
    val ex = shingleTable(df, idCol, textCol, n)
      .select(col(idCol), xxhash64(col("s")).as("sk"), col("n"))
    val dfreq = ex.groupBy(col("sk")).agg(count(lit(1)).as("__df"))
    // one row per doc: shingle set ordered by (global df asc, hash) —
    // the AllPairs canonical order — plus the set size
    val docs = Checkpoints.truncate(ex.join(dfreq, "sk")
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(col("__df"), col("sk")))).as("__ord"),
        max(col("n")).as("nn"))
      .select(col(idCol),
        transform(col("__ord"), e => e.getField("sk")).as("arr"), col("nn")))
    val prefixLen = (col("nn") - ceil(lit(threshold) * col("nn")) + 1).cast("int")
    val prefix = docs.select(col(idCol).as("doc_p"),
      posexplode(slice(col("arr"), lit(1), prefixLen)).as(Seq("pp", "sk")),
      col("nn").as("np"), prefixLen.as("pl"))
    val full = docs.select(col(idCol).as("doc_f"),
      posexplode(col("arr")).as(Seq("pf", "sk")), col("nn").as("nf"))
    // smaller side (by shingle count, id tie-break) probes with its
    // prefix against the other side's full set; each unordered pair is
    // generated from exactly one orientation. The length-ratio prune
    // (exact, as in jaccardPairs) runs per row inside the join; the
    // matches then aggregate per pair — the exchange the naive form
    // spent on distinct() instead carries two PPJoin-style exact
    // overlap bounds (Xiao et al. 2008) that kill near-miss pairs
    // before the verification join:
    //  - positional: J ≥ t needs overlap ≥ α = ⌈t/(1+t)·(np+nf)⌉, and
    //    the globally-FIRST common shingle — which sits in the smaller
    //    side's prefix, prefixes being downward-closed in the global
    //    order — admits at most min(np−pp, nf−pf) total common
    //    shingles from its (0-based) positions, so a qualifying pair
    //    has max over matches of that bound ≥ α;
    //  - prefix-count: every common shingle is a prefix match or in
    //    the smaller side's suffix, so overlap ≤ m + (np − pl).
    val cand = prefix.join(full,
        prefix("sk") === full("sk") &&
          (col("np") < col("nf") ||
            (col("np") === col("nf") && col("doc_p") < col("doc_f"))))
      .where(col("np") >= lit(threshold) * col("nf")
        && col("nf") >= lit(threshold) * col("np"))
      .groupBy(col("doc_p"), col("doc_f"))
      .agg(count(lit(1)).as("m"),
        max(least(col("np") - col("pp"), col("nf") - col("pf"))).as("ub"),
        max(col("np")).as("np"), max(col("nf")).as("nf"), max(col("pl")).as("pl"))
      .where({
        val alpha = ceil(lit(threshold) / (1 + threshold) * (col("np") + col("nf")))
        col("ub") >= alpha && (col("m") + col("np") - col("pl")) >= alpha
      })
      .select(least(col("doc_p"), col("doc_f")).as("doc_a"),
        greatest(col("doc_p"), col("doc_f")).as("doc_b"))
    val a = docs.select(col(idCol).as("doc_a"), col("arr").as("__sa"),
      col("nn").as("na"))
    val b = docs.select(col(idCol).as("doc_b"), col("arr").as("__sb"),
      col("nn").as("nb"))
    cand.join(a, "doc_a").join(b, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("__sa"), col("__sb"))).cast("long").as("inter"),
        col("na"), col("nb"))
      .select(col("doc_a"), col("doc_b"),
        (col("inter") / (col("na") + col("nb") - col("inter"))).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** LSH parameter auto-tuning: among factorizations b·r = `nPerms`,
    * pick the (bands, rowsPerBand) whose S-curve midpoint
    * (1/b)^(1/r) — the Jaccard similarity at which candidate
    * probability p(s) = 1 − (1 − s^r)^b crosses ~0.5 — lands closest
    * to `targetThreshold`. This is how the q65 production shape
    * (128 perms → 32×4 for t = 0.5) was chosen; exposing it makes the
    * choice reproducible for any budget. Returns (bands, rowsPerBand,
    * curve midpoint). */
  def lshTune(nPerms: Int, targetThreshold: Double): (Int, Int, Double) = {
    require(nPerms > 0 && targetThreshold > 0 && targetThreshold < 1,
      "need nPerms > 0 and threshold in (0,1)")
    val configs = (1 to nPerms).filter(nPerms % _ == 0).map { b =>
      val r = nPerms / b
      (b, r, math.pow(1.0 / b, 1.0 / r))
    }
    configs.minBy { case (_, _, mid) => math.abs(mid - targetThreshold) }
  }

  /** Candidate probability of the (bands, rows) curve at Jaccard `s`:
    * p(s) = 1 − (1 − s^r)^b. */
  def lshCandidateProb(bands: Int, rowsPerBand: Int, s: Double): Double =
    1.0 - math.pow(1.0 - math.pow(s, rowsPerBand), bands)

  /** MinHash signature per document: `nPerms` permutations of the
    * 32-bit md5-derived shingle hash (the classic 8-constant table
    * first, then md5-derived constants — see
    * [[graft.functions.TextFunctions.minhashPermsFor]]).
    * Columns: id, mh0..mh{nPerms-1}. Documents with fewer than n tokens
    * (no shingles) are dropped.
    *
    * Shuffle-FREE: the whole signature is ONE narrow per-row pass via
    * the [[graft.expressions.MinhashSig]] expression (each shingle
    * hashed once, all nPerms minima folded in a single traversal) —
    * where the explode + groupBy(nPerms aggs) formulation shuffled
    * every shingle row and kept nPerms partial-min agg columns. At 128
    * perms on a 100 TB corpus that exchange was the dominant cost of
    * signature computation; now signatures pipeline straight into the
    * band-table projection with zero exchanges before the bucket join.
    * (`__sig` is a multi-use non-cheap alias, so CollapseProject keeps
    * the stage boundary and the expression evaluates once per row —
    * same reasoning as [[shingleTable]].) */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, nPerms: Int = 8): DataFrame = {
    val sig = df.select(col(idCol), tokens(col(textCol)).as("__w"))
      // < n tokens -> no shingles -> no signature (the aggregation
      // form dropped such docs: no exploded rows). Filtering on the
      // cheap token count keeps the expensive stages single-eval.
      .where(size(col("__w")) >= n)
      .select(col(idCol), wordShingles(col("__w"), n).as("__sh"))
      .select(col(idCol), graft.expressions.MinhashSig(col("__sh"),
        minhashPermsFor(nPerms), MinhashMod).as("__sig"))
    sig.select(col(idCol) +:
      (0 until nPerms).map(i => col("__sig").getItem(i).as(s"mh$i")): _*)
  }

  /** LSH candidate pairs: `bands` bands x `rowsPerBand` rows over the
    * signature; docs sharing any band bucket become candidates. At 100
    * TB the (bands, rowsPerBand) pair is the recall/cost dial: more
    * bands -> higher recall at threshold (1/bands)^(1/rowsPerBand),
    * wider buckets -> more verify pairs. */
  def lshCandidates(sig: DataFrame, idCol: String,
      bands: Int = 4, rowsPerBand: Int = 2): DataFrame = {
    val bandStructs = (0 until bands).map { i =>
      struct(lit(i).as("band"),
        array((0 until rowsPerBand).map(j =>
          col(s"mh${i * rowsPerBand + j}")): _*).as("bkey"))
    }
    val bandsDf = sig.select(col(idCol), explode(array(bandStructs: _*)).as("bk"))
      .select(col(idCol), col("bk.band"), col("bk.bkey"))
    val a = bandsDf.select(col(idCol).as("doc_a"), col("band"), col("bkey"))
    val b = bandsDf.select(col(idCol).as("doc_b"), col("band"), col("bkey"))
    a.join(b, Seq("band", "bkey"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** MinHash+LSH near-duplicate pairs, verified with exact Jaccard:
    * signature -> band-bucket join -> candidate pairs -> exact
    * verification against the shingle table. The scale path: pair
    * generation is linear in bucket occupancy, never all-pairs.
    * Defaults (8 perms, 4x2 bands) are the oracle-gated q15 shape;
    * web-scale corpora want e.g. 128 perms / 32x4. */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.5,
      nPerms: Int = 8, bands: Int = 4, rowsPerBand: Int = 2): DataFrame = {
    require(bands * rowsPerBand <= nPerms,
      s"bands*rowsPerBand (${bands * rowsPerBand}) exceeds nPerms ($nPerms)")
    // COMPACT per-doc shingle arrays, materialized once (the q112
    // pattern: compact, never the exploded frame): the signature pass
    // and BOTH verification legs derive from it, so tokenize+shingle —
    // the expensive per-row expression work — runs once instead of
    // three times per corpus. Docs with no shingles (under n tokens)
    // carry an empty array, dropped by the same filters as before.
    val compact = graft.etl.Checkpoints.truncate(
      df.select(col(idCol), tokens(col(textCol)).as("__w"))
        .select(col(idCol), wordShingles(col("__w"), n).as("sh")))
    val sig0 = compact.where(size(col("sh")) >= 1)
      .select(col(idCol), graft.expressions.MinhashSig(col("sh"),
        minhashPermsFor(nPerms), MinhashMod).as("__sig"))
    val sig = sig0.select(col(idCol) +:
      (0 until nPerms).map(i => col("__sig").getItem(i).as(s"mh$i")): _*)
    val cand = lshCandidates(sig, idCol, bands, rowsPerBand)
    // verification join keys on the shingle's 64-bit hash (see
    // jaccardPairs — longs through the shuffle, not strings)
    val ex = compact
      .select(col(idCol), explode(col("sh")).as("s"), size(col("sh")).as("n"))
      .select(col(idCol), xxhash64(col("s")).as("sk"), col("n"))
    val a = ex.select(col(idCol).as("doc_a"), col("sk"), col("n").as("na"))
    val b = ex.select(col(idCol).as("doc_b"), col("sk"), col("n").as("nb"))
    cand.join(a, "doc_a").join(b, Seq("doc_b", "sk"))
      // same exact length-ratio prune as jaccardPairs
      .where(col("na") >= lit(threshold) * col("nb")
        && col("nb") >= lit(threshold) * col("na"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("inter"), max("na").as("na"), max("nb").as("nb"))
      .select(col("doc_a"), col("doc_b"),
        (col("inter") / (col("na") + col("nb") - col("inter"))).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Asymmetric shingle-CONTAINMENT over LSH candidates — the
    * subsumption detector (quotes, boilerplate wrappers, excerpt
    * pages): containment(A in B) = |sh(A) ∩ sh(B)| / |sh(A)| is ~1
    * when A is mostly a fragment of B even though Jaccard is small.
    * Candidates come from the same banded MinHash join as
    * [[minhashNearDups]] but WITHOUT the length-ratio prune (the
    * asymmetric size gap is the signal here, not noise); the exact
    * intersection is counted on 64-bit shingle hashes. Both directions
    * are scored and a pair is kept when EITHER rounded containment
    * clears `minContainment`.
    *
    * Recall caveat (documented, inherent): Jaccard-tuned LSH under-
    * recalls a tiny doc inside a huge one (their signatures differ);
    * at the gated near-dup shape containment ≈ Jaccard so the banded
    * index recalls them. For the asymmetric tiny-in-huge case use
    * [[containmentJoin]] — the containment-COMPLETE candidate path
    * (pigeonhole prefix filtering on the small side's shingles).
    * Output: (doc_a < doc_b, contain_a, contain_b), rounded 6. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, minContainment: Double = 0.8,
      nPerms: Int = 8, bands: Int = 4, rowsPerBand: Int = 2): DataFrame = {
    require(bands * rowsPerBand <= nPerms,
      s"bands*rowsPerBand (${bands * rowsPerBand}) exceeds nPerms ($nPerms)")
    val cand = lshCandidates(
      minhashSignatures(df, idCol, textCol, n, nPerms), idCol,
      bands, rowsPerBand)
    val ex = shingleTable(df, idCol, textCol, n)
      .select(col(idCol), xxhash64(col("s")).as("sk"), col("n"))
    val a = ex.select(col(idCol).as("doc_a"), col("sk"), col("n").as("na"))
    val b = ex.select(col(idCol).as("doc_b"), col("sk"), col("n").as("nb"))
    cand.join(a, "doc_a").join(b, Seq("doc_b", "sk"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("inter"), max("na").as("na"), max("nb").as("nb"))
      .select(col("doc_a"), col("doc_b"),
        round(col("inter") / col("na"), 6).as("contain_a"),
        round(col("inter") / col("nb"), 6).as("contain_b"))
      .where(col("contain_a") >= minContainment
        || col("contain_b") >= minContainment)
  }

  /** Containment-COMPLETE asymmetric join: every (small, corpus) pair
    * with `containment(small in corpus) = |sh(s) ∩ sh(c)| / |sh(s)|
    * ≥ minContainment` — no LSH recall gap. This is the excerpt/quote
    * detector [[containmentPairs]]'s docs promise for the tiny-doc-in-
    * huge-doc case: a 200-char excerpt of a 100 KB page has near-zero
    * Jaccard (MinHash bands almost never collide) but containment ≈ 1.
    *
    * Candidate generation is PIGEONHOLE PREFIX FILTERING (Chaudhuri
    * et al., "A Primitive Operator for Similarity Joins", ICDE 2006):
    * order each small doc's shingles by CORPUS FREQUENCY ascending
    * (the classic rare-first prefix — unseen-in-corpus shingles sort
    * first at df 0; ties break on the shingle string so both engines
    * agree) and keep only the first `⌊(1−τ)·n⌋ + 1`; if the corpus
    * doc contains ≥ τ·n of the n shingles, it misses at most
    * `(1−τ)·n` of them, so at least one PREFIX shingle is shared —
    * joining prefix shingles against the corpus posting table finds
    * every qualifying pair, provably, under ANY total order. Rare-
    * first minimizes the candidate fan-out (sum of the prefix
    * shingles' dfs — the smallest dfs available): the hash-ordered
    * prefix measured 34× cost growth per 10× corpus on hot-shingle
    * data; rare-first follows only cold postings. The exact
    * containment then verifies candidates on the full shingle tables
    * (so false candidates cost one counted join, never a wrong
    * answer).
    *
    * Scale shape: the corpus side is touched as narrow projections —
    * posting table, per-shingle df aggregate, verification; nothing
    * quadratic, no all-pairs. The small side (an excerpt batch, a
    * query set, the sub-LSH-size tail of a corpus) pays one per-doc
    * rank of its own shingles. `candDfCap > 0` additionally drops
    * prefix shingles hotter than the cap from candidate generation —
    * a HARD fan-out bound of `cap · prefixLen` candidates per small
    * doc, trading the completeness proof away exactly when even a
    * doc's rarest `(1−τ)·n + 1` shingles are boilerplate-hot (the
    * narrow documented recall loss). The DEFAULT is the capped
    * production screen (200, the measured round-9 setting: 29.4 s at
    * the 100× scale proof, sublinear) — on boilerplate-heavy corpora
    * the exact path's candidate volume is sum-of-prefix-dfs and
    * measured 366 s at 100×, a cost a caller must opt INTO with
    * `candDfCap = 0` (completeness mode — the q166 oracle holds it
    * against a direct posting-join computation; q173 gates the capped
    * path with a cap-mirrored oracle). Output: (small_id, corpus_id,
    * containment rounded 6). */
  def containmentJoin(small: DataFrame, smallId: String, smallText: String,
      corpus: DataFrame, corpusId: String, corpusText: String,
      n: Int = 3, minContainment: Double = 0.8,
      candDfCap: Int = 200): DataFrame = {
    require(minContainment > 0 && minContainment <= 1,
      s"minContainment must be in (0, 1], got $minContainment")
    val corpusShS = shingleTable(corpus, corpusId, corpusText, n)
      .select(col(corpusId).as("corpus_id"), col("s"))
    val smallShS = shingleTable(small, smallId, smallText, n)
      .select(col(smallId).as("small_id"), col("s"), col("n").as("na"))
    val dfT = corpusShS.groupBy(col("s")).agg(count(lit(1)).as("__cdf"))
    // rare-first pigeonhole prefix: the (n - ceil(tau*n) + 1) corpus-
    // coldest shingles of each small doc
    val prefix = smallShS.join(dfT, Seq("s"), "left")
      .withColumn("__cdf", coalesce(col("__cdf"), lit(0L)))
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("small_id"))
          .orderBy(col("__cdf"), col("s"))))
      .where(col("__rk") <=
        col("na") - ceil(lit(minContainment) * col("na")) + 1)
    val capped =
      if (candDfCap <= 0) prefix else prefix.where(col("__cdf") <= candDfCap)
    // candidate + verify joins key on the 64-bit shingle hash (longs
    // through the shuffle, not strings — the jaccardPairs convention)
    val posts = corpusShS.select(col("corpus_id"), xxhash64(col("s")).as("sk"))
    val cand = capped.select(col("small_id"), xxhash64(col("s")).as("sk"))
      .join(posts, Seq("sk"))
      .select(col("small_id"), col("corpus_id")).distinct()
    val smallH = smallShS.select(col("small_id"),
      xxhash64(col("s")).as("sk"), col("na"))
    cand.join(smallH, Seq("small_id"))
      .join(posts, Seq("corpus_id", "sk"))
      .groupBy(col("small_id"), col("corpus_id"))
      .agg(count(lit(1)).as("inter"), max("na").as("na"))
      .select(col("small_id"), col("corpus_id"),
        round(col("inter") / col("na"), 6).as("containment"))
      .where(col("containment") >= minContainment)
  }

  /** Cross-corpus fuzzy join (record linkage / crawl-snapshot merge):
    * near-duplicate pairs BETWEEN two document sets — match a fresh
    * crawl against the standing corpus, merge two vendor feeds, align
    * snapshot generations — with the same MinHash+LSH machinery as
    * [[minhashNearDups]], made bipartite: signatures on each side,
    * band buckets joined LEFT × RIGHT only (never within a side, so
    * intra-corpus duplicates cost nothing here), candidates verified
    * with exact shingle Jaccard under the usual length-ratio prune.
    * Identical ids on the two sides are NOT excluded (the sides are
    * different tables; run [[minhashNearDups]] for self-join dedup).
    *
    * Scale shape: both sides stream once through signature+banding;
    * the only wide frames are long-keyed (band buckets, shingle
    * hashes). Pair generation stays linear in bucket occupancy —
    * bipartite bucketing never goes all-pairs, so a 100 TB corpus ×
    * daily-crawl join is bounded by the crawl's bucket load.
    * Output: left_id, right_id, jaccard (>= threshold, unrounded). */
  def fuzzyJoin(left: DataFrame, leftId: String, leftText: String,
      right: DataFrame, rightId: String, rightText: String,
      n: Int = 3, threshold: Double = 0.5, nPerms: Int = 8,
      bands: Int = 4, rowsPerBand: Int = 2): DataFrame = {
    require(bands * rowsPerBand <= nPerms,
      s"bands*rowsPerBand (${bands * rowsPerBand}) exceeds nPerms ($nPerms)")
    val lb = bandTable(minhashSignatures(left, leftId, leftText, n, nPerms),
        leftId, bands, rowsPerBand)
      .select(col(leftId).as("left_id"), col("band"), col("bkey"))
    val rb = bandTable(minhashSignatures(right, rightId, rightText, n, nPerms),
        rightId, bands, rowsPerBand)
      .select(col(rightId).as("right_id"), col("band"), col("bkey"))
    val cand = lb.join(rb, Seq("band", "bkey"))
      .select("left_id", "right_id").distinct()
    val exL = shingleTable(left, leftId, leftText, n)
      .select(col(leftId).as("left_id"), xxhash64(col("s")).as("sk"),
        col("n").as("na"))
    val exR = shingleTable(right, rightId, rightText, n)
      .select(col(rightId).as("right_id"), xxhash64(col("s")).as("sk"),
        col("n").as("nb"))
    cand.join(exL, "left_id").join(exR, Seq("right_id", "sk"))
      .where(col("na") >= lit(threshold) * col("nb")
        && col("nb") >= lit(threshold) * col("na"))
      .groupBy("left_id", "right_id")
      .agg(count(lit(1)).as("inter"), max("na").as("na"), max("nb").as("nb"))
      .select(col("left_id"), col("right_id"),
        (col("inter") / (col("na") + col("nb") - col("inter"))).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** The exploded band-bucket table of a signature frame:
    * (id, band, bkey) — the join key surface of the LSH index. */
  private[graft] def bandTable(sig: DataFrame, idCol: String, bands: Int,
      rowsPerBand: Int): DataFrame = {
    val bandStructs = (0 until bands).map { i =>
      struct(lit(i).as("band"),
        array((0 until rowsPerBand).map(j =>
          col(s"mh${i * rowsPerBand + j}")): _*).as("bkey"))
    }
    sig.select(col(idCol), explode(array(bandStructs: _*)).as("bk"))
      .select(col(idCol), col("bk.band"), col("bk.bkey"))
  }

  /** Persist a MinHash-LSH dedup index: the corpus' band buckets
    * (partitioned by band) and its shingle-hash table. The
    * incremental-ingest lifecycle: the standing corpus is signatured
    * ONCE at build; each arriving batch signatures only itself and
    * joins its bands against the index — near-dup detection against
    * N documents costs O(|batch|), not O(N), per batch. */
  def buildLshIndex(df: DataFrame, idCol: String, textCol: String,
      path: String, n: Int = 3, nPerms: Int = 8, bands: Int = 4,
      rowsPerBand: Int = 2): Unit = {
    val sig = minhashSignatures(df, idCol, textCol, n, nPerms)
    // the two index legs derive independently from the corpus —
    // overlapped ([[graft.etl.Par]]); build was already non-atomic
    // (callers fence with their own markers), and both legs complete
    // before return exactly as before
    graft.etl.Par.run(
      () => GraftSession.write(bandTable(sig, idCol, bands, rowsPerBand))
        .mode("overwrite").partitionBy("band").parquet(s"$path/bands"),
      () => GraftSession.write(shingleTable(df, idCol, textCol, n)
          .select(col(idCol), xxhash64(col("s")).as("sk"), col("n")))
        .mode("overwrite").parquet(s"$path/shingles"))
  }

  /** ADMIT a new batch into a persisted LSH index without rebuilding:
    * the batch's band buckets and shingle hashes are appended
    * (partitioned file append — the standing index is neither read nor
    * rewritten), so after the append the index answers queries as if
    * it had been built on corpus ∪ batch. This closes the incremental
    * loop: [[lshQueryIndex]] the batch, drop its near-dups, append the
    * survivors — each step O(|batch|), independent of corpus size.
    * Parameters must match the ones the index was built with. */
  def appendToLshIndex(batch: DataFrame, idCol: String, textCol: String,
      path: String, n: Int = 3, nPerms: Int = 8, bands: Int = 4,
      rowsPerBand: Int = 2): Unit = {
    val sig = minhashSignatures(batch, idCol, textCol, n, nPerms)
    GraftSession.write(bandTable(sig, idCol, bands, rowsPerBand))
      .mode("append").partitionBy("band").parquet(s"$path/bands")
    GraftSession.write(shingleTable(batch, idCol, textCol, n)
        .select(col(idCol), xxhash64(col("s")).as("sk"), col("n")))
      .mode("append").parquet(s"$path/shingles")
  }

  /** Near-dup pairs between a NEW batch and an indexed corpus:
    * (corpus doc_a, batch doc_b, jaccard >= threshold). Band-bucket
    * candidates against the index, exact Jaccard verification against
    * the index's stored shingles — the corpus is never re-processed. */
  def lshQueryIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      batch: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, n: Int = 3, nPerms: Int = 8,
      bands: Int = 4, rowsPerBand: Int = 2): DataFrame = {
    val sig = minhashSignatures(batch, idCol, textCol, n, nPerms)
    val batchBands = bandTable(sig, idCol, bands, rowsPerBand)
      .withColumnRenamed(idCol, "doc_b")
    val indexBands = spark.read.parquet(s"$path/bands")
      .select(col(idCol).as("doc_a"), col("band"), col("bkey"))
    val cand = indexBands.join(batchBands, Seq("band", "bkey"))
      .select("doc_a", "doc_b").distinct()
    val a = spark.read.parquet(s"$path/shingles")
      .select(col(idCol).as("doc_a"), col("sk"), col("n").as("na"))
    val b = shingleTable(batch, idCol, textCol, n)
      .select(col(idCol).as("doc_b"), xxhash64(col("s")).as("sk"),
        col("n").as("nb"))
    cand.join(a, "doc_a").join(b, Seq("doc_b", "sk"))
      .where(col("na") >= lit(threshold) * col("nb")
        && col("nb") >= lit(threshold) * col("na"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("inter"), max("na").as("na"), max("nb").as("nb"))
      .select(col("doc_a"), col("doc_b"),
        (col("inter") / (col("na") + col("nb") - col("inter"))).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Benchmark-contamination check (training-set decontamination): for
    * each candidate document, the fraction of its distinct word
    * n-grams that appear in ANY benchmark document — the overlap
    * statistic eval-set decontamination filters on (13-gram overlap in
    * the GPT-3 lineage; `n` is the dial). Output: id, n_shingles,
    * n_hit, contamination in [0,1].
    *
    * Scale shape: the benchmark shingle set is tiny next to the
    * corpus, so it is broadcast (distinct hashes only — longs, not
    * strings) and the corpus streams through once with a map-side
    * probe; no corpus shuffle except the per-doc count aggregation. */
  def benchmarkContamination(docs: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, n: Int = 5): DataFrame = {
    val d = shingleTable(docs, idCol, textCol, n)
      .select(col(idCol), xxhash64(col("s")).as("sk"), col("n"))
    val b = shingleTable(bench, idCol, textCol, n)
      .select(xxhash64(col("s")).as("sk")).distinct()
      .withColumn("__hit", lit(1L))
    d.join(broadcast(b), Seq("sk"), "left")
      .groupBy(col(idCol))
      .agg(max(col("n")).cast("long").as("n_shingles"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
      .select(col(idCol), col("n_shingles"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_shingles")).as("contamination"))
  }

  /** Connected components over near-duplicate pairs: groups chained
    * duplicates (a~b, b~c => {a,b,c}) so exactly one representative
    * (the minimum id) survives per transitive cluster — dropping the
    * "loser" of each pair independently over-deletes on chains.
    *
    * Iterative minimum-label propagation (each round = one shuffle-join
    * + min-aggregate; converges in O(cluster diameter) rounds and stops
    * early once labels are stable). Near-dup clusters are shallow —
    * diameters beyond `maxIter` would indicate a degenerate corpus; for
    * web-scale graphs swap in large-star/small-star contraction.
    * Output: (id, component) where component = min id in the cluster.
    */
  def nearDupComponents(pairs: DataFrame, maxIter: Int = 10): DataFrame = {
    // materialize the (small) edge set ONCE: every iteration joins
    // against it, and without the checkpoint each iteration's eager
    // localCheckpoint would re-execute the whole upstream pair pipeline
    // (LSH signatures + verification) through the edges lineage
    val edges = Checkpoints.truncate(
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
        .distinct())
    smallComponents(edges) match {
      case Some(labels) => Checkpoints.free(edges); return labels
      case None => ()
    }
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("component", col("id"))
    var prevCkpt: Option[DataFrame] = None
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // each node adopts the min label among itself and its neighbors;
      // the convergence test rides along as a flag column so it costs a
      // scan of the (eagerly checkpointed) result, not a second
      // join+aggregate job per iteration
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "dst")
          .withColumnRenamed("component", "nbr_comp"), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("nbr_comp")).as("nbr_comp"))
      val updated = Checkpoints.truncate( // truncate the iterative lineage
        labels.join(neighborMin, Seq("id"), "left")
          .select(col("id"),
            least(col("component"), coalesce(col("nbr_comp"), col("component")))
              .as("component"),
            coalesce(col("nbr_comp") < col("component"), lit(false))
              .as("__changed")))
      converged = updated.where(col("__changed")).limit(1).count() == 0
      prevCkpt.foreach(Checkpoints.free) // superseded round's blocks
      prevCkpt = Some(updated)
      labels = updated.drop("__changed")
      iter += 1
    }
    // after >= 1 round labels reads only the last checkpoint — the
    // bidirectional edge materialization is dead
    if (iter > 0) Checkpoints.free(edges)
    if (!converged) {
      // silent non-convergence would return a still-split clustering and
      // quietly keep duplicates downstream — make it loud
      System.err.println(
        s"[graft] nearDupComponents: NOT converged after $maxIter rounds " +
          "(cluster diameter exceeds maxIter); labels may still be split. " +
          "Raise maxIter or switch to large-star/small-star contraction.")
    }
    labels
  }

  /** Edge-count ceiling for the driver union-find fast path of the
    * connected-components entry points: 2^20 symmetric edge rows ≈
    * 16–32 MB of boxed ids on the driver — the same order as a
    * broadcast-join build side, and checked at RUNTIME against the
    * materialized edge frame exactly the way AQE sizes a broadcast.
    * Near-dup edge sets at any healthy dedup threshold are tiny
    * relative to the corpus (55 pairs on the sf0.1 gate corpus); the
    * distributed loops remain the path for everything bigger. */
  private val SmallGraphEdgeBound = 1 << 20

  /** Bounded small-graph fast path shared by [[nearDupComponents]] and
    * [[connectedComponentsStar]]: when the (already-checkpointed) edge
    * frame is under [[SmallGraphEdgeBound]] rows, compute components
    * with a driver-side union-find (min-id representative — attaching
    * the larger root under the smaller keeps every root the set
    * minimum, the exact fixpoint both distributed loops converge to)
    * instead of paying one Spark job PER ITERATION on a graph that
    * fits in a broadcast. Counting and collecting read the checkpoint
    * blocks, not the upstream LSH pipeline. Returns None above the
    * bound — the scale path is untouched. */
  private def smallComponents(edges: DataFrame): Option[DataFrame] = {
    // session override (set 0 to force the distributed loops — spec
    // and cluster-gate coverage of the scale path on small fixtures)
    val bound = edges.sparkSession.conf
      .get("spark.graft.cc.smallBound", SmallGraphEdgeBound.toString).toLong
    if (edges.count() > bound) return None
    val rows = edges.collect() // bounded: ≤ SmallGraphEdgeBound rows
    val parent = new java.util.HashMap[Any, Any]()
    def find(x: Any): Any = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x // path compression
      while (parent.get(c) != r) {
        val nx = parent.get(c); parent.put(c, r); c = nx
      }
      r
    }
    def cmp(a: Any, b: Any): Int =
      a.asInstanceOf[Comparable[Any]].compareTo(b)
    rows.foreach { r =>
      val a = r.get(0); val b = r.get(1)
      if (!parent.containsKey(a)) parent.put(a, a)
      if (!parent.containsKey(b)) parent.put(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (cmp(ra, rb) <= 0) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    import scala.jdk.CollectionConverters._
    val idType = edges.schema.head.dataType
    val out: java.util.List[org.apache.spark.sql.Row] =
      parent.keySet().asScala.toSeq
        .map(id => org.apache.spark.sql.Row(id, find(id))).asJava
    Some(edges.sparkSession.createDataFrame(out,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", idType),
        org.apache.spark.sql.types.StructField("component", idType)))))
  }

  /** Keep one representative (min id) per transitive near-dup cluster:
    * ids to DROP from the corpus. */
  def nearDupLosers(pairs: DataFrame): DataFrame =
    nearDupComponents(pairs).where(col("id") =!= col("component"))
      .select(col("id"))

  /** Leakage-safe train/val/test split: assign every member of a
    * near-dup cluster to the SAME split, so near-duplicate documents
    * never straddle the train/eval boundary (per-document hash splits
    * leak — a q15-grade near-dup pair lands its twin in the eval set
    * with probability 2·valFrac·trainFrac). `pairs` is any near-dup
    * pair frame (doc_a, doc_b) — LSH, SimHash, or semantic; the split
    * key is the cluster representative (min id; singleton documents
    * are their own cluster), hashed with [[Sampling.hashSplit]]'s
    * portable md5 bucketing.
    *
    * Shape: components over the (small) pair set, one left join back
    * to the corpus, then the narrow hash gate — the corpus itself is
    * never shuffled beyond that join. Output: input columns +
    * group_id + split. */
  def leakageSafeSplit(docs: DataFrame, idCol: String, pairs: DataFrame,
      valFrac: Double, testFrac: Double, seed: String): DataFrame = {
    val comp = nearDupComponents(pairs)
      .select(col("id").as(idCol), col("component"))
    val grouped = docs.join(comp, Seq(idCol), "left")
      .withColumn("group_id", coalesce(col("component"), col(idCol)))
      .drop("component")
    Sampling.hashSplit(grouped, "group_id", valFrac, testFrac, seed)
  }

  /** Per-document n-gram novelty — the "contribution" scoring of an
    * ordered corpus (ingestion order = id order here): a document's
    * novelty is the fraction of its distinct word n-grams whose FIRST
    * occurrence (minimum owning doc id) is the document itself.
    * Boilerplate-heavy or near-duplicate late arrivals score near 0;
    * genuinely new text scores near 1 — the streaming-ingest
    * prioritization signal (D4-style novelty pruning) computed
    * exactly, in batch.
    *
    * Shape: a shingle's owner IS min(doc) — so the whole frame
    * reduces with one PARTIAL-aggregating groupBy on the shingle
    * (map-side combine shrinks the exchange below the raw shingle
    * count; no window sort, no join-back of the full shingle frame),
    * then n_novel = rows per owner (a doc-cardinality aggregate) left-
    * joins the narrow per-doc shingle counts. Shingles stay STRINGS
    * here for engine portability (the oracle gate); at 100 TB swap
    * the shuffle key for xxhash64(shingle) — same plan, 8-byte keys.
    * Output: (id, n_shingles, n_novel, novelty); documents with fewer
    * than `n` tokens have no n-grams and are absent. */
  def noveltyScores(df: DataFrame, idCol: String, textCol: String,
      n: Int = 5): DataFrame = {
    val w = tokens(col(textCol))
    val grams = array_distinct(transform(
      sequence(lit(0), size(col("__w")) - n),
      i => concat_ws(" ", slice(col("__w"), i + 1, lit(n)))))
    val sh = df.select(col(idCol), w.as("__w"))
      .where(size(col("__w")) >= n)
      .select(col(idCol), grams.as("__sh"))
    val owned = sh
      .select(col(idCol), explode(col("__sh")).as("s"))
      .groupBy(col("s")).agg(min(col(idCol)).as(idCol))
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_novel"))
    sh.select(col(idCol), size(col("__sh")).cast("long").as("n_shingles"))
      .join(owned, Seq(idCol), "left")
      .withColumn("n_novel", coalesce(col("n_novel"), lit(0L)))
      .withColumn("novelty",
        round(col("n_novel") / col("n_shingles"), 6))
  }

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond") — the web-scale swap for [[nearDupComponents]]:
    * converges in O(log n) rounds on ANY graph shape, where min-label
    * propagation needs O(diameter) rounds (a 10^6-long chain would need
    * 10^6 shuffles). Each round is two groupBy+join passes over the
    * edge list; lineage is truncated per round with localCheckpoint.
    *
    *  - large-star: every node's strictly-larger neighbors re-attach to
    *    the minimum of its neighborhood (incl. itself);
    *  - small-star: every node's smaller-or-equal neighbors re-attach
    *    to that minimum.
    *
    * Fixpoint = the edge set is a star forest rooted at component
    * minima. Output: (id, component) for every non-isolated node, like
    * [[nearDupComponents]]. */
  def connectedComponentsStar(pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    def bidir(e: DataFrame): DataFrame =
      e.union(e.select(col("dst").as("src"), col("src").as("dst")))
    def largeStar(e: DataFrame): DataFrame = {
      val nbr = bidir(e)
      val m = nbr.groupBy(col("src")).agg(min(col("dst")).as("mn"))
        .select(col("src"), least(col("mn"), col("src")).as("m"))
      nbr.join(m, "src")
        .where(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      // input edges point large -> small (large-star output invariant);
      // normalize anyway so the op is standalone-safe
      val dir = e.select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      val m = dir.groupBy(col("src")).agg(min(col("dst")).as("m"))
      dir.join(m, "src")
        .select(col("dst").as("src"), col("m").as("dst"))
        .union(m.select(col("src"), col("m").as("dst")))
        .where(col("src") =!= col("dst"))
        .distinct()
    }
    var edges = Checkpoints.truncate(
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .where(col("src") =!= col("dst")).distinct())
    smallComponents(edges) match {
      case Some(labels) => Checkpoints.free(edges); return labels
      case None => ()
    }
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val next = Checkpoints.truncate(smallStar(largeStar(edges)))
      // fixpoint when the (set-valued) edge list is unchanged
      converged = next.count() == edges.count() &&
        next.except(edges).limit(1).count() == 0
      Checkpoints.free(edges) // fixpoint test done; prior round is dead
      edges = next
      iter += 1
    }
    if (!converged)
      System.err.println(
        s"[graft] connectedComponentsStar: NOT converged after $maxIter rounds")
    // star forest: every non-root points at its component min; roots
    // (component minima) label themselves
    val members = edges.select(col("src").as("id"), col("dst").as("component"))
    val roots = edges.select(col("dst").as("id")).distinct()
      .join(edges.select(col("src").as("id")), Seq("id"), "left_anti")
      .withColumn("component", col("id"))
    members.union(roots)
  }

  /** SimHash near-duplicate pairs within a Hamming radius, found by
    * byte-band bucketing: the 32-bit signature splits into 4 bands, and
    * by pigeonhole any pair with hamming <= 3 shares at least one
    * unchanged band — so candidates come from band-bucket joins (linear
    * in bucket occupancy), then the exact popcount filter verifies.
    * Output: doc_a < doc_b, hamming. */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4 byte-bands only guarantee recall up to hamming 3")
    val sig = simhash(df, idCol, textCol)
    val bandStructs = (0 until 4).map { b =>
      struct(lit(b).as("band"),
        (shiftright(col("simhash"), b * 8) % 256).as("bkey"))
    }
    val bands = sig.select(col(idCol), col("simhash"),
        explode(array(bandStructs: _*)).as("bk"))
      .select(col(idCol), col("simhash"), col("bk.band"), col("bk.bkey"))
    val a = bands.select(col(idCol).as("doc_a"), col("simhash").as("sha"),
      col("band"), col("bkey"))
    val b = bands.select(col(idCol).as("doc_b"), col("simhash").as("shb"),
      col("band"), col("bkey"))
    // dedup candidates BEFORE the popcount: a pair sharing several
    // bands would otherwise be verified once per shared band and only
    // collapsed afterwards; signatures are longs, so carrying them
    // through the distinct is cheap
    a.join(b, Seq("band", "bkey"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "sha", "shb").distinct()
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sha").bitwiseXOR(col("shb"))).cast("long").as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** 32-bit SimHash: bit j of the hash is set iff the (weighted) vote
    * of token hashes with bit j set beats those with it clear.
    * `weighted=false` votes once per DISTINCT token (the oracle-gated
    * q16/q32 form); `weighted=true` votes per occurrence (Charikar's
    * original weighting — more discriminating on repetitive corpora).
    * Evaluated by the single-pass [[graft.expressions.Simhash32]]
    * expression; [[simhashExploded]] is the composed reference form
    * (bit-identical, asserted in DedupSpec). */
  def simhash(df: DataFrame, idCol: String, textCol: String,
      weighted: Boolean = false): DataFrame = {
    val tokCol = if (weighted) tokens(col(textCol))
      else array_distinct(tokens(col(textCol)))
    df.select(col(idCol), tokCol.as("__t"))
      .select(col(idCol), graft.expressions.Simhash32(col("__t")).as("simhash"))
  }

  /** The exploded composed-built-ins SimHash (reference semantics). */
  def simhashExploded(df: DataFrame, idCol: String, textCol: String,
      weighted: Boolean = false): DataFrame = {
    val tokCol = if (weighted) tokens(col(textCol))
      else array_distinct(tokens(col(textCol)))
    val toks = df.select(col(idCol), explode(tokCol).as("tok"))
      .groupBy(col(idCol), h32(col("tok")).as("h"))
      .agg(count(lit(1)).as("w"))
    val bits = toks.select(col(idCol), col("h"), col("w"),
        explode(sequence(lit(0), lit(31))).as("bit"))
      .withColumn("contrib",
        when(expr("(shiftright(h, bit) & 1) = 1"), col("w")).otherwise(-col("w")))
    bits.groupBy(col(idCol), col("bit"))
      .agg(sum(col("contrib")).as("bitsum"))
      .groupBy(col(idCol))
      .agg(sum(when(col("bitsum") > 0,
        expr("shiftleft(CAST(1 AS BIGINT), bit)")).otherwise(lit(0L)))
        .as("simhash"))
  }

  // ---- paragraph / sub-document dedup -------------------------------
  //
  // Whole-document dedup misses cross-document boilerplate: headers,
  // footers, license blocks, navigation chrome repeated across MANY
  // otherwise-distinct documents. The standard pipeline move is to
  // split documents into paragraphs, hash each, and strip paragraphs
  // whose document frequency exceeds a cap. Every step is a narrow
  // projection or one hash aggregation on the paragraph hash — the
  // same single-shuffle shape as exact dedup, so it scales.

  /** Exploded paragraph table: (id, pidx, para). Splits on
    * `splitRegex` (default: blank lines), trims, drops empties. `pidx`
    * is the paragraph's position so cleaned text can be reassembled in
    * order. */
  def paragraphTable(df: DataFrame, idCol: String, textCol: String,
      splitRegex: String = "\\n\\s*\\n"): DataFrame =
    df.select(col(idCol), posexplode(split(col(textCol), splitRegex))
        .as(Seq("pidx", "para")))
      .select(col(idCol), col("pidx"), trim(col("para")).as("para"))
      .where(length(col("para")) > 0)

  /** Fixed-size word-window "paragraphs" for corpora without paragraph
    * delimiters: non-overlapping k-token chunks, in token order. The
    * trailing chunk may be shorter than k. */
  def chunkTable(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame =
    df.select(col(idCol), tokens(col(textCol)).as("__w"))
      .select(col(idCol),
        posexplode(sequence(lit(0),
          ceil(size(col("__w")) / lit(k.toDouble)).cast("int") - 1))
          .as(Seq("pidx", "__i")),
        col("__w"))
      .select(col(idCol), col("pidx"),
        array_join(slice(col("__w"), col("pidx") * k + 1, lit(k)), " ")
          .as("para"))

  /** Paragraph document frequency: one row per distinct paragraph
    * content with the number of documents it appears in and its total
    * occurrence count. One hash aggregation on the md5 — scales. */
  def paragraphDocFreq(paras: DataFrame, idCol: String): DataFrame =
    paras.groupBy(md5(col("para")).as("para_hash"))
      .agg(countDistinct(col(idCol)).as("doc_freq"),
        count(lit(1)).as("n_occ"))

  /** Strip cross-document boilerplate: remove every paragraph whose
    * document frequency exceeds `maxDocFreq`, reassemble the survivors
    * in original order (joined with `sep`), and return the input rows
    * with `textCol` replaced by the cleaned text (empty string when
    * every paragraph was boilerplate). The hot-paragraph set is tiny by
    * construction (freq > cap) so the anti-join broadcasts. */
  def stripBoilerplate(df: DataFrame, idCol: String, textCol: String,
      maxDocFreq: Int, splitRegex: String = "\\n\\s*\\n",
      sep: String = "\n\n"): DataFrame = {
    val paras = paragraphTable(df, idCol, textCol, splitRegex)
    val hot = paragraphDocFreq(paras, idCol)
      .where(col("doc_freq") > maxDocFreq)
      .select(col("para_hash"))
    val kept = paras
      .join(broadcast(hot), md5(col("para")) === col("para_hash"),
        "left_anti")
      .groupBy(col(idCol))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pidx"), col("para")))),
          x => x.getField("para")), sep).as("__clean"))
    df.join(kept, Seq(idCol), "left")
      .withColumn(textCol, coalesce(col("__clean"), lit("")))
      .drop("__clean")
  }

  /** Corpus-wide exact line dedup with the KEEP-FIRST rule (the CCNet /
    * RefinedWeb line-level pass; Penedo et al. 2023): a line whose
    * verbatim content occurs anywhere else in the corpus survives only
    * at its first occurrence — minimum `(id, line_no)` — and is removed
    * from every later position. [[stripBoilerplate]] is the
    * remove-ALL-copies variant; this one preserves exactly one copy so
    * no content is lost outright. Lines shorter than `minDupChars` are
    * exempt (dates, list markers, "1." — globally deduping those would
    * shred unrelated documents). Returns one row per input id with the
    * reassembled `textCol` plus kept/removed line counts.
    *
    * Scale shape: the first-occurrence table is a hash AGGREGATION on
    * the line's xxhash64 (`min(struct(id, line_no))`), not a window —
    * partial aggregation combines map-side, so a boilerplate line in
    * ten million documents never funnels into one sort partition the
    * way `row_number() over (partition by line)` would. The join back
    * is keyed on the same long hash (one row per DISTINCT line on the
    * build side), and reassembly is one aggregation on the doc id.
    * Only the hash crosses the first exchange alongside the line text
    * needed for rebuild; nothing is quadratic. */
  def lineDedup(df: DataFrame, idCol: String, textCol: String,
      minDupChars: Int = 15): DataFrame = {
    val lines = df.select(col(idCol),
      posexplode(split(col(textCol), "\n")).as(Seq("__ln", "__line")))
    val elig = length(col("__line")) >= minDupChars
    val keyed = lines.withColumn("__gh", xxhash64(col("__line")))
    val firsts = keyed.where(elig)
      .groupBy(col("__gh"))
      .agg(min(struct(col(idCol), col("__ln"))).as("__first"))
    val kept = keyed.join(firsts, Seq("__gh"), "left")
      .where(!elig ||
        struct(col(idCol), col("__ln")) === col("__first"))
    val rebuilt = kept.groupBy(col(idCol))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("__ln"), col("__line")))),
          x => x.getField("__line")), "\n").as("__clean"),
        count(lit(1)).as("n_kept"))
    df.select(col(idCol),
        size(split(col(textCol), "\n")).cast("long").as("__total"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__clean"), lit("")).as(textCol),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("__total") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  // ------------------------------------------------------------------
  // Duplicate-span (substring-level) dedup — the hash-approximate form
  // of suffix-array training-data dedup (Lee et al. 2022,
  // "Deduplicating Training Data Makes Language Models Better"): a
  // true distributed suffix array is impractical, but hashing every
  // positional token n-gram and counting corpus-wide occurrences finds
  // the same repeated substrings of length >= n. Tokens hash to longs
  // before anything shuffles, gram keys come from one codegen'd
  // xxhash64 over n lead() columns, counting is one partial-agg hash
  // aggregation on the gram hash (one long per row through the
  // shuffle, not the n-word string), and span assembly is one bounded
  // per-document gaps-and-islands window — the plan survives 100 TB.

  /** Positional token n-gram HASH table: (id, pos, __gh) with `pos`
    * the 0-based index of the gram's first token. Documents shorter
    * than n tokens produce no rows.
    *
    * The hash is internal, not part of the semantics: any
    * collision-free-on-the-observed-grams hash yields identical spans
    * (grams only ever compare for equality), so the Spark side and the
    * DuckDB oracle may hash differently — both are birthday-safe
    * (64-bit here, 60-bit md5 there: ~n²/2⁶⁰ ≪ 1 at any real corpus).
    * Shape matters more: tokens hash to longs BEFORE the explode (so
    * the window shuffle moves 8-byte longs, never gram strings), and
    * the n-gram key is one codegen'd xxhash64 over n lead() columns —
    * a `transform` lambda that captures the token array falls off
    * whole-stage codegen and measured ~10x slower per gram. */
  private def posGramTable(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val tok = df.select(col(idCol),
      posexplode(transform(tokens(col(textCol)), t => xxhash64(t)))
        .as(Seq("pos", "__h0")))
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    // same window spec for every lead -> Spark collapses them into ONE
    // Window node: a single doc-keyed shuffle + sort, n-1 lead columns
    val led = (1 until n).foldLeft(tok)((d, j) =>
      d.withColumn(s"__h$j", lead(col("__h0"), j).over(w)))
    led.where(col(s"__h${n - 1}").isNotNull)
      .select(col(idCol), col("pos"),
        xxhash64((0 until n).map(j => col(s"__h$j")): _*).as("__gh"))
  }

  /** Duplicated spans per document: maximal token ranges
    * [span_start, span_end] (0-based, inclusive) covered by token
    * n-grams occurring at least `minOccurrences` times corpus-wide
    * (within-document repeats count — a doc repeating its own
    * boilerplate is flagged too). Overlapping or adjacent gram hits
    * merge into one span, so a duplicated run of any length >= n
    * reports as a single row with its `span_tokens` length. */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8, minOccurrences: Int = 2): DataFrame = {
    require(n >= 1, s"gram size must be >= 1, got $n")
    require(minOccurrences >= 2,
      s"minOccurrences must be >= 2, got $minOccurrences")
    val grams = posGramTable(df, idCol, textCol, n)
    val hot = grams.groupBy(col("__gh"))
      .agg(count(lit(1)).as("__occ"))
      .where(col("__occ") >= minOccurrences)
      .select(col("__gh"))
    val hits = grams.join(hot, Seq("__gh"), "left_semi")
      .select(col(idCol), col("pos"),
        (col("pos") + lit(n - 1)).as("__end"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val prevMax = max(col("__end"))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    hits
      .withColumn("__brk",
        when(prevMax.isNull || prevMax < col("pos") - 1, 1).otherwise(0))
      .withColumn("__isl", sum(col("__brk")).over(w))
      .groupBy(col(idCol), col("__isl"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        max(col("__end")).cast("long").as("span_end"))
      .select(col(idCol), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"))
  }

  /** Remove every duplicated span (from [[duplicateSpans]], same
    * parameters) from the text: surviving tokens reassemble in order,
    * space-joined; a fully-duplicated document becomes the empty
    * string. Row-preserving — output is the input with `textCol`
    * replaced, the [[stripBoilerplate]] contract at token level. */
  def stripDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8, minOccurrences: Int = 2): DataFrame = {
    val spans = duplicateSpans(df, idCol, textCol, n, minOccurrences)
      .select(col(idCol).as("__sid"), col("span_start"), col("span_end"))
    val toks = df.select(col(idCol),
      posexplode(tokens(col(textCol))).as(Seq("pos", "tok")))
    val kept = toks.join(spans,
        toks(idCol) === spans("__sid") &&
          col("pos").between(col("span_start"), col("span_end")),
        "left_anti")
      .groupBy(col(idCol))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("tok")))),
        x => x.getField("tok")), " ").as("__clean"))
    df.join(kept, Seq(idCol), "left")
      .withColumn(textCol, coalesce(col("__clean"), lit("")))
      .drop("__clean")
  }
}
