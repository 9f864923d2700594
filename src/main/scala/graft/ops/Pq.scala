package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.functions.TextFunctions.h32
import graft.functions.VectorFunctions._

/** Product quantization (Jegou et al. 2011, "Product Quantization for
  * Nearest Neighbor Search"): each d-dim vector splits into m
  * contiguous subvectors, each subspace gets a small codebook (ksub
  * entries), and a vector compresses to m small-int codes — m bytes
  * instead of 4d, the 32x storage cut (d=64, m=8) that makes a 100 TB
  * embedding corpus scannable. Queries rank by ASYMMETRIC distance
  * (ADC): the query stays exact, each corpus row costs m byte-indexed
  * lookup-table adds — codes never decompress.
  *
  * Scale shape: codebooks and per-query LUTs are tiny (m*ksub rows)
  * and BROADCAST; the corpus is never shuffled — encoding is a narrow
  * projection + one groupBy(id), scoring is a broadcast nested-loop
  * over |queries| LUT rows. Compose with IVF cell pruning
  * ([[Similarity.buildIvfIndex]]) by pre-filtering the `codes` side of
  * [[pqTopKWith]] to the probed cells: IVF prunes the scan, PQ
  * compresses what remains — the standard IVF-PQ layout.
  *
  * Everything is deterministic and engine-portable (hash-ranked seed
  * sample, 9-digit-rounded argmin, id tie-breaks) so the whole
  * train->encode->ADC chain is expressed in the DuckDB oracle (q129).
  */
object Pq {

  /** (id, sub, sv): the m contiguous d/m-dim subvectors of each
    * vector, components cast to double. d must be divisible by m
    * (trailing components would be silently dropped otherwise). */
  private[graft] def subVectors(emb: DataFrame, idCol: String,
      vecCol: String, m: Int): DataFrame =
    emb.select(col(idCol).as("id"), col(vecCol).as("__v"))
      .select(col("id"),
        posexplode(transform(sequence(lit(0), lit(m - 1)),
          j => transform(
            slice(col("__v"), j * (size(col("__v")) / lit(m)) + lit(1),
              size(col("__v")) / lit(m)),
            x => x.cast("double"))))
          .as(Seq("sub", "sv")))

  /** Deterministic ksub-seed sample: corpus ids ranked by the portable
    * 32-bit hash (pseudo-random but engine-reproducible), cent_id =
    * dense rank 0..ksub-1. The window runs on ksub rows post-limit. */
  private def seedIds(emb: DataFrame, idCol: String, ksub: Int): DataFrame =
    emb.select(col(idCol).as("id")).distinct()
      .withColumn("__h", h32(col("id").cast("string")))
      .orderBy(col("__h"), col("id")).limit(ksub)
      .withColumn("cent_id",
        row_number().over(Window.orderBy(col("__h"), col("id"))) - 1)
      .select("id", "cent_id")

  /** Per-subspace codebooks (sub, cent_id, cv, sc): seeded from the
    * hash-ranked sample, optionally refined with Lloyd rounds (each
    * round re-densifies cent_id to the surviving code positions).
    * iters=0 (the oracle-gated shape) is the sampled-codebook posture
    * of [[Similarity.ivfCentroids]]. */
  def pqCodebooks(emb: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, ksub: Int = 16, iters: Int = 0): DataFrame = {
    val sv = subVectors(emb, idCol, vecCol, m)
    var cents = sv.join(broadcast(seedIds(emb, idCol, ksub)), Seq("id"))
      .select(col("sub"), col("cent_id"), col("sv").as("cv"))
      .withColumn("sc", dot(col("cv"), col("cv")))
    for (_ <- 1 to iters) {
      cents = assignSub(sv, cents)
        .select(col("sub"), col("code").as("cent_id"),
          posexplode(col("sv")).as(Seq("pos", "v")))
        .groupBy("sub", "cent_id", "pos")
        .agg(round(avg(col("v")), 6).as("mv"))
        .groupBy("sub", "cent_id")
        .agg(array_sort(collect_list(struct(col("pos"), col("mv")))).as("pm"))
        .select(col("sub"), col("cent_id"),
          transform(col("pm"), x => x.getField("mv")).as("cv"))
        .withColumn("sc", dot(col("cv"), col("cv")))
        .cache()
    }
    cents
  }

  /** Nearest-codebook-entry assignment per (id, sub): the same
    * broadcast argmin fold as [[Similarity.assignTo]], per subspace;
    * `code` is the POSITION of the winner in the cent_id-sorted
    * codebook — dense by construction, which is what lets ADC index a
    * LUT array instead of joining. Distance rounded to 9 digits before
    * comparison; ties go to the lowest position via strict `<`. */
  private[graft] def assignSub(sv: DataFrame, cents: DataFrame): DataFrame = {
    val perSub = cents.groupBy(col("sub"))
      .agg(array_sort(collect_list(struct(col("cent_id"), col("cv"), col("sc"))))
        .as("__cents"))
    val init = struct(lit(Double.MaxValue).as("d"),
      lit(-1).as("code"), lit(0).as("i"))
    val best = aggregate(col("__cents"), init, (acc, c) => {
      val d = round(col("__ss") - lit(2.0) * dot(col("sv"), c.getField("cv"))
        + c.getField("sc"), 9)
      when(d < acc.getField("d"),
        struct(d.as("d"), acc.getField("i").as("code"),
          (acc.getField("i") + 1).as("i")))
        .otherwise(struct(acc.getField("d").as("d"),
          acc.getField("code").as("code"), (acc.getField("i") + 1).as("i")))
    })
    sv.withColumn("__ss", dot(col("sv"), col("sv")))
      .join(broadcast(perSub), Seq("sub"))
      .withColumn("__b", best)
      .select(col("id"), col("sub"), col("sv"),
        col("__b").getField("code").as("code"),
        col("__b").getField("d").as("d"))
  }

  /** (id, codes): the m-code PQ compression of every vector — codes[j]
    * indexes subspace j's cent_id-sorted codebook. */
  def pqEncode(emb: DataFrame, idCol: String, vecCol: String,
      cents: DataFrame, m: Int): DataFrame =
    assignSub(subVectors(emb, idCol, vecCol, m), cents)
      .groupBy(col("id"))
      .agg(transform(array_sort(collect_list(struct(col("sub"), col("code")))),
        x => x.getField("code")).as("codes"))

  /** Per-query ADC lookup tables, one array row per query: luts[sub]
    * [code] = exact squared distance from the query's subvector to
    * that codebook entry. Bounded at |queries| rows — the broadcast
    * side of every scoring join. */
  private def queryLuts(queries: DataFrame, cents: DataFrame,
      idCol: String, vecCol: String, m: Int): DataFrame =
    subVectors(queries, idCol, vecCol, m)
      .withColumnRenamed("id", "query_id")
      .withColumn("__qs", dot(col("sv"), col("sv")))
      .join(broadcast(cents), Seq("sub"))
      .select(col("query_id"), col("sub"), col("cent_id"),
        round(col("__qs") - lit(2.0) * dot(col("sv"), col("cv"))
          + col("sc"), 9).as("d"))
      .groupBy(col("query_id"), col("sub"))
      .agg(transform(array_sort(collect_list(struct(col("cent_id"), col("d")))),
        x => x.getField("d")).as("lut"))
      .groupBy(col("query_id"))
      .agg(transform(array_sort(collect_list(struct(col("sub"), col("lut")))),
        x => x.getField("lut")).as("luts"))

  /** The ADC fold: m byte-indexed LUT adds, rounded to 6 for a stable
    * cross-engine ranking key. Approximates squared L2. */
  private def adcDist(m: Int): Column = round(aggregate(
    sequence(lit(0), lit(m - 1)), lit(0.0),
    (acc, j) => acc + element_at(element_at(col("luts"), j + 1),
      element_at(col("codes"), j + 1) + 1)), 6)

  /** ADC top-k of pre-encoded codes against a query set. Each query
    * builds an m x ksub lookup table of exact subspace distances
    * (query side stays uncompressed — asymmetric); the tables collapse
    * to one array row per query and broadcast; each corpus row then
    * costs m element_at adds. Output: query_id, target_id, adist
    * (rounded 6), rank. */
  def pqTopKWith(codes: DataFrame, cents: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, m: Int): DataFrame = {
    val luts = queryLuts(queries, cents, idCol, vecCol, m)
    val scored = codes.join(broadcast(luts), col("query_id") =!= col("id"))
      .withColumn("adist", adcDist(m))
      .select(col("query_id"), col("id").as("target_id"), col("adist"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist"), col("target_id"))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Persist a PQ-compressed IVF index at `path`: coarse centroids,
    * per-subspace codebooks, and the corpus as (id, codes) PARTITIONED
    * BY coarse cell — the standard IVF-PQ layout: IVF prunes which
    * partitions a query reads, PQ shrinks what each partition stores
    * (m small ints + an id per vector instead of d floats, the ~32x
    * byte cut that makes the probed-cell scan I/O-trivial). Build is
    * two broadcast assignment passes + one partitioned write — nothing
    * all-pairs, nothing data-sized collected. */
  def buildIvfPqIndex(emb: DataFrame, idCol: String, vecCol: String,
      path: String, centroidStride: Int = 32, m: Int = 8,
      ksub: Int = 16): Unit = {
    GraftSession.write(Similarity.ivfCentroids(emb, idCol, vecCol, centroidStride))
      .mode("overwrite").parquet(s"$path/centroids")
    val books = pqCodebooks(emb, idCol, vecCol, m, ksub)
    GraftSession.write(books).mode("overwrite").parquet(s"$path/codebooks")
    val cells = Similarity.assignCells(emb, idCol, vecCol, centroidStride)
      .select(col("target_id").as("id"), col("cent_id"))
    GraftSession.write(pqEncode(emb, idCol, vecCol, books, m).join(cells, Seq("id")))
      .mode("overwrite").partitionBy("cent_id").parquet(s"$path/codes")
  }

  /** Append a new vector batch to a persisted IVF-PQ index: encode
    * with the EXISTING codebooks and assign to the EXISTING coarse
    * cells (an index's quantizers are a released artifact — retraining
    * them would silently re-key every previously stored code), then
    * append to the partitioned codes directory. O(batch) work per
    * call, the [[graft.ops.Dedup.appendToLshIndex]] lifecycle
    * contract. */
  def appendToIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame, idCol: String, vecCol: String, path: String,
      m: Int = 8): Unit = {
    val coarse = spark.read.parquet(s"$path/centroids")
    val books = spark.read.parquet(s"$path/codebooks")
    val cells = Similarity.assignTo(batch, idCol, vecCol, coarse)
      .select(col("target_id").as("id"), col("cent_id"))
    GraftSession.write(pqEncode(batch, idCol, vecCol, books, m).join(cells, Seq("id")))
      .mode("append").partitionBy("cent_id").parquet(s"$path/codes")
  }

  /** ADC top-k over a persisted IVF-PQ index. Queries probe their
    * `nprobe` nearest coarse cells; the probed cell ids (bounded:
    * <= |queries| x nprobe index metadata, not data) become a literal
    * partition filter on the codes directory, so only those cell
    * directories are scanned; each query scores ONLY its own probed
    * cells via the (cent_id) join, m LUT adds per survivor. Output:
    * query_id, target_id, adist (rounded 6), rank. */
  def pqTopKIndexed(spark: org.apache.spark.sql.SparkSession,
      path: String, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nprobe: Int = 4, m: Int = 8): DataFrame = {
    val coarse = spark.read.parquet(s"$path/centroids")
    val books = spark.read.parquet(s"$path/codebooks")
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("qdist").asc, col("cent_id"))
    val probes = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("sq", dot(col("qv"), col("qv")))
      .join(broadcast(coarse), lit(true))
      .select(col("query_id"), col("sq"), col("cent_id"),
        round(col("sq") - lit(2.0) * dot(col("qv"), col("cv")) + col("sc"), 9)
          .as("qdist"))
      .withColumn("rn", row_number().over(wProbe))
      .where(col("rn") <= nprobe)
      .select("query_id", "cent_id")
    val cellIds = probes.select("cent_id").distinct()
      .collect().map(_.getLong(0)).toSeq
    val codes = spark.read.parquet(s"$path/codes")
      .where(col("cent_id").isin(cellIds: _*))
    val luts = queryLuts(queries, books, idCol, vecCol, m)
    val scored = codes.join(broadcast(probes), Seq("cent_id"))
      .join(broadcast(luts), Seq("query_id"))
      .where(col("query_id") =!= col("id"))
      .withColumn("adist", adcDist(m))
      .select(col("query_id"), col("id").as("target_id"), col("adist"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist"), col("target_id"))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** One-call PQ ANN: train codebooks, encode the corpus, ADC-rank the
    * rows matching `queryPred` against everything else. */
  def pqTopK(emb: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, k: Int, m: Int = 8, ksub: Int = 16,
      iters: Int = 0): DataFrame = {
    val cents = pqCodebooks(emb, idCol, vecCol, m, ksub, iters)
    pqTopKWith(pqEncode(emb, idCol, vecCol, cents, m), cents,
      emb.where(queryPred), idCol, vecCol, k, m)
  }
}
