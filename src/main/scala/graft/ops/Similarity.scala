package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.GraftSession
import graft.etl.Checkpoints

import graft.functions.VectorFunctions._

/** Similarity search over embedding columns.
  *
  * Three tiers, trading exactness for scale:
  *  1. [[cosineTopK]] — exact brute force: broadcast the (small) query
  *     set against the full corpus; the corpus is never shuffled. The
  *     correctness baseline, and the right plan whenever |queries| is
  *     bounded (the 100 TB side streams through once).
  *  2. [[ivfTopK]] — IVF: deterministic coarse quantizer (sampled
  *     centroids), corpus partitioned by nearest centroid, queries probe
  *     only `nprobe` cells. Approximate; prunes the corpus scan.
  *  3. [[embeddingNearDups]] — all-pairs cosine >= threshold; the exact
  *     verification primitive (quadratic — cap one side or pre-bucket
  *     with LSH/IVF cells at scale).
  *
  * Performance shape: norms are computed once per VECTOR (a projection
  * before the join), never per pair — per-pair work is exactly one
  * codegen'd dot product. Ranking always orders by the ROUNDED
  * (6-digit) cosine with the id as tie-break, so last-ulp float
  * divergence can never reorder results between runs or engines.
  */
object Similarity {

  /** id, vector, and its L2 norm — the per-side input to pair joins. */
  private def withNorm(emb: DataFrame, idCol: String, vecCol: String,
      idAs: String, vecAs: String, nrmAs: String): DataFrame =
    emb.select(col(idCol).as(idAs), col(vecCol).as(vecAs))
      .withColumn(nrmAs, sqrt(dot(col(vecAs), col(vecAs))))

  /** Exact top-k cosine neighbors for each query row.
    * Output: query_id, target_id, cosine (rounded, 6), rank. */
  def cosineTopK(emb: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, k: Int): DataFrame = {
    val t = withNorm(emb, idCol, vecCol, "target_id", "tv", "nt")
    val q = withNorm(emb.where(queryPred), idCol, vecCol, "query_id", "qv", "nq")
    val scored = t.join(broadcast(q), col("query_id") =!= col("target_id"))
      .select(col("query_id"), col("target_id"),
        round(dot(col("qv"), col("tv")) / (col("nq") * col("nt")), 6).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("target_id"))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** All pairs (a < b) with cosine >= threshold. */
  def embeddingNearDups(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val a = withNorm(emb, idCol, vecCol, "doc_a", "va", "na")
    val b = withNorm(emb, idCol, vecCol, "doc_b", "vb", "nb")
    a.join(b, col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cosine"))
      .where(col("cosine") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("cosine"), 6).as("cosine"))
  }

  /** Hard-negative mining for contrastive training (DPR/SimCSE-style
    * retriever or embedding-model training): for each anchor row
    * (rows matching `anchorPred`), the k most-cosine-similar vectors
    * whose `labelCol` DIFFERS from the anchor's — close in embedding
    * space yet labeled differently, exactly the negatives with
    * gradient signal. NULL labels compare null-safely (NULL is its
    * own label class, so a NULL-labeled negative IS hard for a
    * non-NULL anchor and vice versa).
    *
    * Plan posture = [[cosineTopK]]: the anchor slice is the bounded
    * training batch being mined, so it broadcasts; the corpus streams
    * through once and never shuffles (only the scored pair frame —
    * |anchors| x corpus rows wide of 4 scalars — shuffles for the
    * per-anchor rank window). At 100 TB, pre-restrict the corpus side
    * to the IVF/PQ candidate cells of each anchor ([[ivfTopKIndexed]])
    * and feed the survivors through this same scoring contract.
    * Output: anchor_id, neg_id, neg_label, cosine (rounded 6), rank. */
  def hardNegatives(emb: DataFrame, idCol: String, vecCol: String,
      labelCol: String, anchorPred: Column, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val t = emb.select(col(idCol).as("neg_id"), col(vecCol).as("tv"),
        col(labelCol).as("neg_label"))
      .withColumn("nt", sqrt(dot(col("tv"), col("tv"))))
    val q = emb.where(anchorPred)
      .select(col(idCol).as("anchor_id"), col(vecCol).as("qv"),
        col(labelCol).as("__anchor_label"))
      .withColumn("nq", sqrt(dot(col("qv"), col("qv"))))
    val scored = t.join(broadcast(q),
        col("anchor_id") =!= col("neg_id") &&
          !(col("neg_label") <=> col("__anchor_label")))
      .select(col("anchor_id"), col("neg_id"), col("neg_label"),
        round(dot(col("qv"), col("tv")) / (col("nq") * col("nt")), 6)
          .as("cosine"))
    val w = Window.partitionBy(col("anchor_id"))
      .orderBy(col("cosine").desc, col("neg_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }

  /** Maximal-marginal-relevance diversified top-k (Carbonell &
    * Goldstein 1998): greedily select k results per query maximizing
    * `λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s)` — relevant results
    * that are NOT near-duplicates of what's already picked, the
    * standard diversity re-rank for RAG retrieval and eval-set
    * assembly. Scoring is over a bounded per-query candidate pool
    * (the `poolSize` most-relevant vectors, exact), the standard
    * two-stage shape: stage 1 is [[cosineTopK]]-style retrieval.
    *
    * Scale shape: stage-1 retrieval (the pool) is distributed exactly
    * like [[cosineTopK]]; the greedy selection is INHERENTLY
    * sequential per query but touches only the bounded pool, so it
    * runs executor-LOCAL per query group (`flatMapGroups`) — one
    * shuffle on query_id, zero driver round-trips, O(k·p + k·p·d)
    * local work per query, parallel across queries. (A genuine
    * imperative per-group loop is the one shape where typed group-map
    * beats composing windows: the window form pays k plan-wide
    * argmax passes — kept as [[mmrRerankIterative]] for non-long id
    * types and as the spec cross-check.) Every score is rounded
    * before the argmax with the id as tie-break — the selection is
    * engine-reproducible. The mmr score rounds at 8 digits, not 6:
    * λ·(6-digit rel) lands EXACTLY on a 7th-digit half for ~half of
    * all rel values with a one-digit λ, where Spark (shortest-repr
    * HALF_UP) and DuckDB (binary scaling) disagree — at 8 digits a λ
    * like 0.75 makes the score an exact decimal with no representable
    * half-tie. Prefer a binary-exact λ (0.75, 0.5, 0.25) for
    * cross-engine gating.
    * Output: query_id, target_id, sel_rank (1..k), mmr (rounded 8). */
  def mmrRerank(emb: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, poolSize: Int, k: Int,
      lambda: Double): DataFrame = {
    require(k > 0 && poolSize >= k, s"need poolSize >= k > 0: $poolSize, $k")
    require(lambda >= 0 && lambda <= 1, s"lambda in [0,1], got $lambda")
    if (emb.schema(idCol).dataType !=
        org.apache.spark.sql.types.LongType)
      return mmrRerankIterative(emb, idCol, vecCol, queryPred, poolSize,
        k, lambda)
    import emb.sparkSession.implicits._
    val pool = mmrPool(emb, idCol, vecCol, queryPred, poolSize)
      .select(col("query_id").cast("long"), col("target_id").cast("long"),
        graft.functions.VectorFunctions.toDouble(col("tv")),
        col("nt"), col("rel"))
      .as[(Long, Long, Seq[Double], Double, Double)]
    pool.groupByKey(_._1).flatMapGroups { (qid, it) =>
      // candidates ordered by id: a strict > in the argmax then keeps
      // the LOWEST id among score ties — the window's tie-break
      val cands = it.toArray.sortBy(_._2)
      val n = cands.length
      val vecs = cands.map(_._3.toArray)
      // a dimension mismatch inside a pool is data corruption — fail
      // loudly instead of silently scoring on a common prefix (the
      // distributed fallback's zip_with would diverge here, and the
      // bit-equivalence contract only holds for fixed-dim embeddings)
      if (n > 0) {
        val d0 = vecs(0).length
        require(vecs.forall(_.length == d0),
          s"mmrRerank: ragged embedding dimensions in pool for query $qid " +
            s"(expected $d0)")
      }
      val nts = cands.map(_._4)
      val rels = cands.map(_._5)
      val msim = new Array[Double](n) // max sim to the selected set
      val taken = new Array[Boolean](n)
      val out = new Array[(Long, Long, Long, Double)](math.min(k, n))
      var step = 1
      while (step <= out.length) {
        var best = -1
        var bestScore = Double.NaN
        var i = 0
        while (i < n) {
          if (!taken(i)) {
            val score =
              if (step == 1) round8(lambda * rels(i))
              else round8(lambda * rels(i) - (1.0 - lambda) * msim(i))
            if (best < 0 || score > bestScore) { best = i; bestScore = score }
          }
          i += 1
        }
        out(step - 1) = ((qid, cands(best)._2, step.toLong, bestScore))
        taken(best) = true
        val vs = vecs(best)
        val ns = nts(best)
        var j = 0
        while (j < n) {
          if (!taken(j)) {
            var acc = 0.0
            var e = 0
            val vj = vecs(j)
            val len = math.min(vj.length, vs.length)
            while (e < len) { acc += vj(e) * vs(e); e += 1 }
            val s = round6(acc / (nts(j) * ns))
            if (step == 1 || s > msim(j)) msim(j) = s
          }
          j += 1
        }
        step += 1
      }
      out.iterator
    }.toDF("query_id", "target_id", "sel_rank", "mmr")
  }

  /** Spark's Round(double) semantics — HALF_UP over the shortest
    * decimal representation — replicated exactly for the local MMR
    * loop so the two variants are bit-identical. */
  private def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
  private def round8(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(8, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Stage-1 of [[mmrRerank]]: the per-query relevance pool —
    * (query_id, target_id, tv, nt, rel), rel rounded 6, top
    * `poolSize` per query by (rel, id). */
  private def mmrPool(emb: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, poolSize: Int): DataFrame = {
    val t = withNorm(emb, idCol, vecCol, "target_id", "tv", "nt")
    val q = withNorm(emb.where(queryPred), idCol, vecCol,
      "query_id", "qv", "nq")
    val pw = Window.partitionBy(col("query_id"))
      .orderBy(col("rel").desc, col("target_id"))
    t.join(broadcast(q), col("query_id") =!= col("target_id"))
      .select(col("query_id"), col("target_id"), col("tv"), col("nt"),
        round(dot(col("qv"), col("tv")) / (col("nq") * col("nt")), 6)
          .as("rel"))
      .withColumn("prank", row_number().over(pw))
      .where(col("prank") <= poolSize)
      .select(col("query_id"), col("target_id"), col("tv"), col("nt"),
        col("rel"))
  }

  /** The step-synchronized distributed form of [[mmrRerank]]: all
    * queries advance together — each of the k greedy steps is one
    * distributed argmax (window rank over query_id), so the step
    * count is k regardless of |queries|; the pool and its
    * pairwise-sim frame (|q|·p and |q|·p² rows, p = poolSize) are
    * cached once. Kept for id types without a cheap group encoder and
    * as the semantic reference the local solve is spec-checked
    * against; the grouped local solve is strictly faster whenever the
    * pool fits an executor (it always should — poolSize is the
    * operator's own bound). */
  def mmrRerankIterative(emb: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, poolSize: Int, k: Int,
      lambda: Double): DataFrame = {
    require(k > 0 && poolSize >= k, s"need poolSize >= k > 0: $poolSize, $k")
    require(lambda >= 0 && lambda <= 1, s"lambda in [0,1], got $lambda")
    val pool = mmrPool(emb, idCol, vecCol, queryPred, poolSize).cache()
    val sims = pool.select(col("query_id"), col("target_id").as("a"),
        col("tv").as("va"), col("nt").as("na"))
      .join(pool.select(col("query_id"), col("target_id").as("b"),
        col("tv").as("vb"), col("nt").as("nb")), Seq("query_id"))
      .where(col("a") =!= col("b"))
      .select(col("query_id"), col("a"), col("b"),
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6)
          .as("sim"))
      .cache()
    val rel = pool.select(col("query_id"), col("target_id"), col("rel"))
    def argmax(scoredCand: DataFrame, step: Int): DataFrame =
      scoredCand.withColumn("rn", row_number().over(
          Window.partitionBy(col("query_id"))
            .orderBy(col("mmr").desc, col("target_id"))))
        .where(col("rn") === 1)
        .select(col("query_id"), col("target_id"),
          lit(step.toLong).as("sel_rank"), col("mmr"))
    // eager localCheckpoint per step (the pageRank pattern): selected
    // is referenced three times by the next step, so without cutting
    // lineage the plan tree grows 3^k
    var selected = Checkpoints.truncate(argmax(rel.withColumn("mmr",
      round(lit(lambda) * col("rel"), 8)), 1))
    for (step <- 2 to k) {
      val cand = rel.join(selected.select(col("query_id"), col("target_id")),
        Seq("query_id", "target_id"), "left_anti")
      val maxSim = sims
        .join(selected.select(col("query_id"), col("target_id").as("b")),
          Seq("query_id", "b"))
        .groupBy(col("query_id"), col("a").as("target_id"))
        .agg(max(col("sim")).as("msim"))
      val next = argmax(cand.join(maxSim, Seq("query_id", "target_id"))
        .withColumn("mmr", round(lit(lambda) * col("rel")
          - lit(1.0 - lambda) * col("msim"), 8)), step)
      val grown = Checkpoints.truncate(selected.union(next))
      Checkpoints.free(selected) // superseded prefix of the selection
      selected = grown
    }
    // the returned frame is fully materialized; the pool/sims caches
    // backing the greedy steps are dead
    pool.unpersist(false)
    sims.unpersist(false)
    selected
  }

  /** Deterministic ±1 sign matrix for [[signRandomProjection]]:
    * entry (j, i) is +1 when the md5-derived 32-bit key of
    * "seed:j:i" is even — reproducible in any engine with md5. */
  private[ops] def signMatrix(seed: String, outDim: Int,
      dim: Int): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(outDim, dim) { (j, i) =>
      val hex = md.digest(s"$seed:$j:$i".getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
      if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1.0 else -1.0
    }
  }

  /** Johnson–Lindenstrauss sign random projection (Achlioptas 2003,
    * database-friendly random projections): out_j = (1/sqrt(outDim)) ·
    * Σ_i sign(j,i)·v_i with the deterministic md5-derived ±1 matrix
    * from [[signMatrix]] — embedding compression (e.g. 64→16 dims)
    * that preserves pairwise distances in expectation, feeding
    * downstream clustering/ANN at a quarter of the width.
    *
    * Scale shape: the matrix is a plan-time literal (outDim×dim
    * doubles, shipped with the plan, no broadcast join); each output
    * component is one codegen'd [[graft.expressions.DotProduct]]
    * against the row's vector — zero shuffle, zero per-element
    * explode; the corpus projects in a single narrow map pass.
    * Output long-form: idCol, dim_idx (0-based long), proj
    * (rounded 6). */
  def signRandomProjection(emb: DataFrame, idCol: String, vecCol: String,
      dim: Int, outDim: Int, seed: String = "rp1"): DataFrame = {
    require(outDim > 0 && dim > 0, s"dims must be positive: $dim->$outDim")
    val m = signMatrix(seed, outDim, dim)
    val comps = (0 until outDim).map { j =>
      struct(lit(j.toLong).as("dim_idx"),
        round(dot(col(vecCol), typedLit(m(j).toSeq))
          / math.sqrt(outDim.toDouble), 6).as("proj"))
    }
    emb.select(col(idCol), explode(array(comps: _*)).as("__c"))
      .select(col(idCol), col("__c.dim_idx"), col("__c.proj"))
  }

  /** Deterministic random hyperplanes for sign-LSH: plane p component j
    * derives from the md5-based 32-bit hash of "p:j" mapped into
    * [-1, 1) — reproducible across runs/engines with no RNG state. */
  private[ops] def hyperplanes(nPlanes: Int, dim: Int): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(nPlanes, dim) { (p, j) =>
      val hex = md.digest(s"$p:$j".getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex, 16).toDouble / 0xFFFFFFFFL.toDouble) * 2.0 - 1.0
    }
  }

  /** Sign-LSH (random-hyperplane) near-duplicate pairs — the bucketed
    * scale path for embedding near-dup (complements [[ivfTopK]] for
    * top-k): vectors hash to a `nPlanes`-bit sketch of dot-product
    * signs; band the sketch, join on band buckets, verify candidates
    * with exact cosine. Collision probability per bit is
    * 1 - angle/pi, so near-identical vectors share whole bands with
    * high probability while the corpus pairs off only inside buckets. */
  def lshNearDups(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nPlanes: Int = 16, bandBits: Int = 4): DataFrame = {
    require(nPlanes % bandBits == 0, "nPlanes must be a multiple of bandBits")
    val planes = hyperplanes(nPlanes, 64)
    val bitCols = planes.zipWithIndex.map { case (plane, p) =>
      val planeCol = array(plane.toIndexedSeq.map(lit): _*)
      when(dot(col(vecCol), planeCol) >= 0, lit(1L)).otherwise(lit(0L))
        .as(s"__bit$p")
    }
    val nBands = nPlanes / bandBits
    val withBits = emb.select(col(idCol) +: bitCols.toSeq: _*)
    val bandStructs = (0 until nBands).map { bnd =>
      val key = (0 until bandBits).map { i =>
        col(s"__bit${bnd * bandBits + i}") * lit(1L << i)
      }.reduce(_ + _)
      struct(lit(bnd).as("band"), key.as("bkey"))
    }
    // Candidate pairs dedup on IDS ONLY — carrying the vectors through
    // the distinct would shuffle and hash-compare two 64-float arrays
    // per candidate row. Vectors (with norms, computed once per vector)
    // are re-attached to the surviving pairs afterwards.
    val bands = withBits.select(col(idCol),
        explode(array(bandStructs: _*)).as("bk"))
      .select(col(idCol), col("bk.band"), col("bk.bkey"))
    val a = bands.select(col(idCol).as("doc_a"), col("band"), col("bkey"))
    val b = bands.select(col(idCol).as("doc_b"), col("band"), col("bkey"))
    val cand = a.join(b, Seq("band", "bkey"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val va = withNorm(emb, idCol, vecCol, "doc_a", "va", "na")
    val vb = withNorm(emb, idCol, vecCol, "doc_b", "vb", "nb")
    cand.join(va, "doc_a").join(vb, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cosine"))
      .where(col("cosine") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("cosine"), 6).as("cosine"))
  }

  /** Symmetric per-vector int8 scalar quantization: q[i] =
    * round(v[i] / scale) with scale = max|v| / 127. Cuts embedding
    * storage 4x (the dominant byte cost of a 100 TB embedding corpus)
    * at a bounded relative error of ~0.4% per component; recall impact
    * is verified in SimilaritySpec. Output: id, q array<tinyint>,
    * scale double. */
  def quantizeInt8(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(col(idCol), col(vecCol).as("__v"))
      .withColumn("scale",
        greatest(array_max(transform(col("__v"), x => abs(x))), lit(1e-30))
          .cast("double") / 127.0)
      .select(col(idCol),
        transform(col("__v"), x =>
          round(x.cast("double") / col("scale")).cast("tinyint")).as("q"),
        col("scale"))

  /** Dequantized (approximate) float view of a quantized table —
    * "dequantize on the fly": downstream operators ([[cosineTopK]],
    * [[embeddingNearDups]], [[ivfTopK]]) run unchanged on the
    * reconstructed vectors while storage stays int8. */
  def dequantize(q: DataFrame, idCol: String): DataFrame =
    q.select(col(idCol),
      transform(col("q"), x => (x.cast("double") * col("scale")).cast("float"))
        .as("embedding"))

  /** Exact top-k over an int8-quantized corpus: quantize, reconstruct
    * on the fly, rank with the standard operator. */
  def cosineTopKInt8(emb: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, k: Int): DataFrame =
    cosineTopK(dequantize(quantizeInt8(emb, idCol, vecCol), idCol),
      idCol, "embedding", queryPred, k)

  /** The centroid table for [[ivfTopK]]: a deterministic sample (every
    * `centroidStride`-th id) with the self-dot precomputed. */
  private[ops] def ivfCentroids(emb: DataFrame, idCol: String,
      vecCol: String, centroidStride: Int): DataFrame =
    emb.where(col(idCol) % centroidStride === 0)
      .select(col(idCol).as("cent_id"), col(vecCol).as("cv"))
      .withColumn("sc", dot(col("cv"), col("cv")))

  /** Nearest-centroid cell assignment as a PURE PROJECTION: all
    * centroids collapse to ONE row (`collect_list` of structs, sorted
    * by cent_id for a deterministic tie-break), that row broadcasts to
    * every corpus partition, and an `aggregate()` fold over the array
    * computes the argmin in-place. The corpus is never shuffled and no
    * corpus×centroids row set ever exists — the previous formulation
    * (cross join + row_number window) exploded |corpus|×|centroids|
    * rows through an exchange, the scale-killer at 100 TB.
    *
    * Distance is |t|² - 2⟨t,c⟩ + |c|², rounded to 9 digits before
    * comparison (like the probe side) so last-ulp divergence cannot
    * flip an assignment; ties go to the smallest cent_id via the
    * sorted fold order and strict `<`.
    * Output: target_id, tv, st (self-dot), cent_id. */
  private[graft] def assignCells(emb: DataFrame, idCol: String,
      vecCol: String, centroidStride: Int): DataFrame =
    assignTo(emb, idCol, vecCol,
      ivfCentroids(emb, idCol, vecCol, centroidStride))
      .select("target_id", "tv", "st", "cent_id")

  /** [[assignCells]] generalized to an ARBITRARY centroid table
    * `(cent_id, cv, sc)` — the same broadcast-fold projection, reused
    * by k-means ([[Cluster.kmeans]]) whose centroids are recomputed
    * means rather than sampled corpus vectors. */
  private[graft] def assignTo(emb: DataFrame, idCol: String,
      vecCol: String, cents: DataFrame): DataFrame = {
    val centsArr = cents
      .agg(array_sort(collect_list(struct(col("cent_id"), col("cv"), col("sc"))))
        .as("__cents"))
    val init = struct(lit(Double.MaxValue).as("cdist"),
      lit(null).cast("bigint").as("cent_id"))
    val best = aggregate(col("__cents"), init, (acc, c) => {
      val d = round(col("st") - lit(2.0) * dot(col("tv"), c.getField("cv"))
        + c.getField("sc"), 9)
      when(d < acc.getField("cdist"),
        struct(d.as("cdist"), c.getField("cent_id").cast("bigint").as("cent_id")))
        .otherwise(acc)
    })
    // alias the fold ONCE before extracting fields: extracting cent_id
    // and cdist from the raw expression would re-run the whole centroid
    // fold twice per row (CollapseProject inlines cheap aliases but
    // keeps a multi-referenced non-cheap one like this aggregate)
    emb.select(col(idCol).as("target_id"), col(vecCol).as("tv"))
      .withColumn("st", dot(col("tv"), col("tv")))
      .join(broadcast(centsArr), lit(true)) // 1-row nested-loop broadcast
      .select(col("target_id"), col("tv"), col("st"), best.as("__best"))
      .select(col("target_id"), col("tv"), col("st"),
        col("__best.cent_id").as("cent_id"), col("__best.cdist").as("cdist"))
  }

  /** Persist an IVF index: the centroid table plus the cell-assigned
    * corpus written PARTITIONED BY cent_id. Build cost is one broadcast
    * assignment pass + one write; afterwards every query batch probes
    * nprobe cells and the cell filter is a PARTITION filter — the scan
    * reads only the probed directories, never the full corpus. This is
    * the build/query split a 100 TB ANN corpus needs: the index is
    * built once and reused, instead of re-assigning cells per query
    * batch (what [[ivfTopK]] does inline). */
  def buildIvfIndex(emb: DataFrame, idCol: String, vecCol: String,
      path: String, centroidStride: Int = 32): Unit = {
    GraftSession.write(ivfCentroids(emb, idCol, vecCol, centroidStride))
      .mode("overwrite").parquet(s"$path/centroids")
    GraftSession.write(assignCells(emb, idCol, vecCol, centroidStride))
      .mode("overwrite").partitionBy("cent_id").parquet(s"$path/corpus")
  }

  /** Top-k over a persisted IVF index. The probed cell ids (a bounded
    * set: |queries| x nprobe) are collected and inlined as a partition
    * filter, so only those cell directories are scanned. Same output
    * schema/ranking as [[cosineTopK]]/[[ivfTopK]]. */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nprobe: Int = 4): DataFrame = {
    val cents = spark.read.parquet(s"$path/centroids")
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("qdist").asc, col("cent_id"))
    val probes = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("sq", dot(col("qv"), col("qv")))
      .join(broadcast(cents), lit(true))
      .select(col("query_id"), col("qv"), col("sq"), col("cent_id"),
        round(col("sq") - lit(2.0) * dot(col("qv"), col("cv")) + col("sc"), 9)
          .as("qdist"))
      .withColumn("rn", row_number().over(wProbe))
      .where(col("rn") <= nprobe).drop("rn", "qdist")
    // bounded driver-side collect of CELL IDS (index metadata, not
    // data) -> a literal IN filter the scan turns into partition pruning
    val cells = probes.select("cent_id").distinct()
      .collect().map(_.getLong(0)).toSeq
    val corpus = spark.read.parquet(s"$path/corpus")
      .where(col("cent_id").isin(cells: _*))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("target_id"))
    corpus.join(broadcast(probes), Seq("cent_id"))
      .where(col("query_id") =!= col("target_id"))
      .select(col("query_id"), col("target_id"),
        round(dot(col("qv"), col("tv")) / (sqrt(col("sq")) * sqrt(col("st"))), 6)
          .as("cosine"))
      .withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** SemDeDup-style semantic near-duplicate pairs (Abbas et al. 2023):
    * embeddings are bucketed into IVF cells by [[assignCells]] (a
    * broadcast projection — the corpus never shuffles for assignment)
    * and pairs form ONLY inside a cell, so the quadratic blow-up of
    * [[embeddingNearDups]] shrinks to Σ|cell|² — with balanced cells,
    * a 1/nCells fraction of all-pairs. Approximate by construction
    * (cross-cell near-dups are missed — that is the SemDeDup
    * trade-off); determinism is inherited from the rounded-argmin
    * assignment, and the cosine is ROUNDED before thresholding so the
    * pair set reproduces across engines.
    * Output: doc_a < doc_b, cent_id, cosine >= threshold. */
  def semanticNearDups(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, centroidStride: Int = 32): DataFrame = {
    val assigned = assignCells(emb, idCol, vecCol, centroidStride)
      .withColumn("nrm", sqrt(col("st")))
    val a = assigned.select(col("cent_id"), col("target_id").as("doc_a"),
      col("tv").as("va"), col("nrm").as("na"))
    val b = assigned.select(col("cent_id"), col("target_id").as("doc_b"),
      col("tv").as("vb"), col("nrm").as("nb"))
    a.join(b, Seq("cent_id"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("cent_id"),
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6)
          .as("cosine"))
      .where(col("cosine") >= threshold)
  }

  /** SemDeDup keep/drop resolution: within each cell, a document is
    * dropped iff some smaller-id document in the same cell is a
    * semantic near-dup — one representative (the min id) survives per
    * within-cell neighborhood. Returns the ids to DROP. */
  def semanticDedupLosers(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, centroidStride: Int = 32): DataFrame =
    semanticNearDups(emb, idCol, vecCol, threshold, centroidStride)
      .select(col("doc_b").as(idCol)).distinct()

  /** IVF approximate top-k. Centroids are a deterministic sample; each
    * corpus vector is assigned to its nearest centroid by
    * [[assignCells]] (a broadcast projection — the corpus never
    * shuffles); each query probes the `nprobe` nearest cells and ranks
    * exactly within them. Returns the same schema as [[cosineTopK]].
    *
    * Scale shape: assignment is one broadcast pass; the probe join hits
    * only cells/corpus-fraction ~ nprobe/nCentroids. */
  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, k: Int, centroidStride: Int = 32,
      nprobe: Int = 4): DataFrame = {
    val cents = ivfCentroids(emb, idCol, vecCol, centroidStride)
    val assigned = assignCells(emb, idCol, vecCol, centroidStride)
    // nprobe nearest cells per query — the query side is bounded, so a
    // broadcast cross join + window rank is fine here
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("qdist").asc, col("cent_id"))
    val probes = emb.where(queryPred)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("sq", dot(col("qv"), col("qv")))
      .join(broadcast(cents), lit(true))
      .select(col("query_id"), col("qv"), col("sq"), col("cent_id"),
        round(col("sq") - lit(2.0) * dot(col("qv"), col("cv")) + col("sc"), 9)
          .as("qdist"))
      .withColumn("rn", row_number().over(wProbe))
      .where(col("rn") <= nprobe).drop("rn", "qdist")
    // exact rank within probed cells
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("target_id"))
    assigned.join(broadcast(probes), Seq("cent_id"))
      .where(col("query_id") =!= col("target_id"))
      .select(col("query_id"), col("target_id"),
        round(dot(col("qv"), col("tv")) / (sqrt(col("sq")) * sqrt(col("st"))), 6)
          .as("cosine"))
      .withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }
}
