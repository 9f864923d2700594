package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.functions.TextFunctions.tokens

/** Query-driven retrieval rankers beyond BM25 ([[Bm25]]) and their
  * fusion — the hybrid-search step of a retrieval/deduplication
  * pipeline: run a lexical ranker and a second independent ranker
  * over the same query set, then merge the two rankings with
  * reciprocal-rank fusion (RRF, Cormack et al. 2009):
  *
  *   rrf(d) = Σ_lists 1 / (c + rank_list(d)),   c = 60 by default
  *
  * RRF needs only ranks (no score calibration between rankers), which
  * is why it is the standard fusion for BM25 + vector search.
  *
  * Scale shape: both rankers emit per-query top-k frames (bounded:
  * |queries| × k rows), so the fusion join is tiny regardless of
  * corpus size; all heavy lifting stays inside the rankers, which
  * broadcast the query set and never shuffle the corpus beyond their
  * own posting aggregation.
  */
object Retrieval {

  /** TF-IDF cosine retrieval: rank documents against a bounded query
    * set by cosine between the query's idf vector (distinct terms,
    * qtf = 1) and the document's tf·idf vector. The sparse dual of
    * [[Similarity.cosineTopK]], and the second lexical leg (besides
    * [[Bm25.topK]]) for [[rrfFuse]].
    *
    * Shape: one posting aggregation (doc × token), df as a window
    * over it (no second tokenize pass — the [[Tfidf]] lesson);
    * document norms from the same frame. Query-term weights join
    * against the vocabulary (token-keyed, vocabulary-sized), and the
    * scoring join BROADCASTS the weighted query terms against the
    * postings, so only query-term postings reach the score
    * aggregation. Document norms cover the FULL df < N vocabulary
    * (non-matching terms count toward length, as in any honest
    * cosine). Scores round to 6 digits before ranking; ties break on
    * the document id. Output: (query_id, <idCol>, score, rank). */
  def tfidfSearchTopK(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, qidCol: String, qtextCol: String,
      k: Int = 10): DataFrame =
    tfidfSearchFromPostings(
      Bm25.postings(docs, idCol, textCol), idCol,
      queries, qidCol, qtextCol, k)

  /** [[tfidfSearchTopK]] over a precomputed [[Bm25.postings]] frame
    * (id, token, tf, dl) — the persisted-index path shared with
    * [[Bm25.topKFromPostings]]: ONE posting aggregation (or one read
    * of the persisted index) serves both hybrid legs; no pass
    * re-reads the raw text. */
  def tfidfSearchFromPostings(post: DataFrame, idCol: String,
      queries: DataFrame, qidCol: String, qtextCol: String,
      k: Int = 10): DataFrame = {
    require(k > 0, "k must be positive")
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col(idCol))
    tfidfScoredFromPostings(post, idCol, queries, qidCol, qtextCol)
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col(idCol), col("score"), col("rank"))
  }

  /** The pre-rank scoring frame of [[tfidfSearchFromPostings]]:
    * (query_id, <idCol>, score), score rounded to 6 digits — the
    * tf-idf dual of [[Bm25.scoredFromPostings]], for rank-window
    * sharing in fused rankers. */
  def tfidfScoredFromPostings(post: DataFrame, idCol: String,
      queries: DataFrame, qidCol: String, qtextCol: String): DataFrame = {
    val tf = post.select(col(idCol), col("token"), col("tf"))
    val total = post.select(col(idCol)).distinct()
      .select(count(lit(1)).as("__n"))
    val wtd = tf
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("token"))))
      .crossJoin(broadcast(total))
      .withColumn("w", col("tf") * log(col("__n").cast("double") / col("df")))
      // df = N terms carry zero idf — out of the feature space (an
      // all-stopword doc would otherwise have an undefined 0-norm)
      .where(col("w") > 0)
    val norms = wtd.groupBy(col(idCol))
      .agg(sqrt(sum(col("w") * col("w"))).as("__dnorm"))
    // vocabulary frame: token → (df, N); df is functional in token so
    // max() is exact, and the frame is vocabulary-sized
    val vocab = wtd.groupBy(col("token"))
      .agg(max(col("df")).as("df"), max(col("__n")).as("__n"))
    val qterms = queries.select(col(qidCol).as("query_id"),
      explode(array_distinct(tokens(col(qtextCol)))).as("token"))
    val qw = qterms.join(vocab, "token")
      .withColumn("qw", log(col("__n").cast("double") / col("df")))
      .where(col("qw") > 0)
    val qnorms = qw.groupBy(col("query_id"))
      .agg(sqrt(sum(col("qw") * col("qw"))).as("__qnorm"))
    val dots = wtd
      .join(broadcast(qw.select(col("query_id"), col("token"), col("qw"))),
        "token")
      .groupBy(col("query_id"), col(idCol))
      .agg(sum(col("w") * col("qw")).as("__dot"))
    dots
      .join(norms, idCol)
      .join(broadcast(qnorms), "query_id")
      .select(col("query_id"), col(idCol),
        round(col("__dot") / (col("__dnorm") * col("__qnorm")), 6)
          .as("score"))
  }

  /** Hybrid BM25 + TF-IDF-cosine retrieval with RRF fusion, inline:
    * each leg derives its own postings from the raw text (two narrow
    * scan+agg passes — see [[hybridTopKFromPostings]] for why they
    * are NOT shared inline, and for the persisted-index path where
    * one materialized posting frame serves both legs). */
  def hybridTopK(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, qidCol: String, qtextCol: String,
      kPerLeg: Int = 20, k: Int = 10, c: Int = 60,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(kPerLeg > 0 && k > 0 && c >= 0,
      "kPerLeg and k must be positive, c non-negative")
    val spark = docs.sparkSession
    // a COMPACT materialization: the per-doc entries frame (one row
    // per document) ends in an explicit exchange that exchange reuse
    // (static ReuseExchange where column pruning leaves identical
    // copies, AQE stage reuse at runtime) shares across consumers —
    // measured decisive at the 500k-doc decade (29 vs 48 s same-window
    // without it), while materializing the EXPLODED posting frame any
    // way at all (checkpoint, cache, exchange) cost 20–45 s of pure
    // |corpus tokens|-row serialization
    val entries = Bm25.postingEntries(docs, idCol, textCol)
      .repartition(col(idCol))
    // query vocabulary resolves DRIVER-SIDE (bounded and broadcast by
    // contract — the same move as [[hybridTopKFromIndex]]): the term
    // list becomes a NARROW `exists` prune over the compact entries,
    // so only documents sharing a query term are ever exploded for
    // norms and candidates
    val qterms = queries.select(col(qidCol).as("query_id"),
      explode(array_distinct(tokens(col(qtextCol)))).as("token"))
    val qtoks: Seq[String] =
      qterms.select(col("token")).distinct().collect()
        .map(_.getString(0)).toSeq
    // one-row corpus stats — straight off the compact frame, no explode.
    // __dl is NULL (hence uncounted) exactly for NULL-TEXT docs (NULL
    // entries array — the only docs with no posting rows; empty text
    // keeps its one empty-string entry per the split contract, so it
    // stays counted with dl = 1 like its posting row says): count(__dl)
    // matches the posting-row N every other entry point and the oracle
    // derive, where count(lit(1)) would have counted NULL-text rows and
    // silently skewed idf and avgdl. The size() guard is belt-and-
    // braces for a hypothetically empty entries array — same NULL.
    val stats = entries
      .select(when(size(col("__es")) > 0,
        aggregate(col("__es"), lit(0L),
          (a, e) => a + e.getField("tf"))).as("__dl"))
      .agg(count(col("__dl")).as("__n"), avg(col("__dl")).as("__avgdl"))
    // global df: the ONE remaining full-corpus explode (df is a
    // corpus-wide statistic; an honest norm needs every token's df)
    val dfA = Bm25.postingsFromEntries(entries, idCol)
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
    val qw = qterms.join(dfA, "token").crossJoin(broadcast(stats))
      .withColumn("qw", log(col("__n").cast("double") / col("df")))
    // docs sharing a query term: narrow array scan, then explode ONLY
    // those docs' entries for the norm and candidate passes
    val touchedEntries = entries.where(
      exists(col("__es"), e => e.getField("token").isin(qtoks: _*)))
    val postTouched = Bm25.postingsFromEntries(touchedEntries, idCol)
    val dnorm = postTouched.join(dfA, "token").crossJoin(broadcast(stats))
      .withColumn("w", col("tf") * log(col("__n").cast("double") / col("df")))
      .where(col("w") > 0).groupBy(col(idCol))
      .agg(sqrt(sum(col("w") * col("w"))).as("__dnorm"))
    hybridCore(postTouched.where(col("token").isin(qtoks: _*)),
      dnorm, qw, idCol, kPerLeg, k, c, k1, b)
  }

  /** [[hybridTopK]] over a (typically PERSISTED) posting frame — at
    * scale, write [[Bm25.postings]] to parquet once and query batches
    * read the compact index instead of re-tokenizing text.
    *
    * Both legs are computed in ONE pass over ONE posting frame: the
    * BM25 saturation term and the tf·idf dot product share df (one
    * token-partitioned window), document length, and the corpus
    * stats, so a single candidate aggregation emits BOTH scores per
    * (query, doc) — the corpus is tokenized/aggregated once, not once
    * per leg (at 100 TB, the leg-private postings pass IS the cost).
    * The scored legs then union into ONE rank-window shuffle
    * (partitioned by leg × query), and RRF fusion is a sum over leg
    * ranks — equivalent to the full-outer [[rrfFuse]] (a doc absent
    * from a leg contributes no term) with one exchange instead of two
    * windows plus a full-outer join. Everything after the candidate
    * aggregation is bounded by |queries| × candidate docs. */
  def hybridTopKFromPostings(post: DataFrame, idCol: String,
      queries: DataFrame, qidCol: String, qtextCol: String,
      kPerLeg: Int = 20, k: Int = 10, c: Int = 60,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(kPerLeg > 0 && k > 0 && c >= 0,
      "kPerLeg and k must be positive, c non-negative")
    // one-row corpus stats (N docs, mean doc length); broadcast
    val stats = post.groupBy(col(idCol)).agg(max(col("dl")).as("__dl"))
      .agg(count(lit(1)).as("__n"), avg(col("__dl")).as("__avgdl"))
    // global df as a token-keyed AGGREGATION ((id, token) is unique in
    // postings, so count per token = containing docs) — partial-agg
    // combines map-side; a token-partitioned window would sort the
    // whole posting frame instead
    val dfA = post.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val qterms = queries.select(col(qidCol).as("query_id"),
      explode(array_distinct(tokens(col(qtextCol)))).as("token"))
    // query-term frame with df, N, and qw = ln(N/df) (query tf = 1)
    // attached — TINY (≤ |query vocabulary| rows), so the candidate
    // scoring pass below needs NO corpus-side df window or join: df
    // rides in on the broadcast
    val qw = qterms.join(dfA, "token").crossJoin(broadcast(stats))
      .withColumn("qw", log(col("__n").cast("double") / col("df")))
    // full-vocabulary doc norms: ||d|| over EVERY positive-idf term of
    // the doc (not just query terms — an honest cosine length), but
    // computed ONLY for documents that share a query term (the only
    // ids the tf·idf leg can rank): the semi-join prunes the norm
    // aggregation from corpus-wide to candidate-wide, which at scale
    // is the difference between "sort every posting" and "sort the
    // touched docs' postings"
    val touched = post
      .join(broadcast(qterms.select(col("token")).distinct()), "token")
      .select(col(idCol)).distinct()
    val dnorm = post.join(touched, Seq(idCol), "left_semi")
      .join(dfA, "token").crossJoin(broadcast(stats))
      .withColumn("w", col("tf") * log(col("__n").cast("double") / col("df")))
      .where(col("w") > 0).groupBy(col(idCol))
      .agg(sqrt(sum(col("w") * col("w"))).as("__dnorm"))
    hybridCore(post, dnorm, qw, idCol, kPerLeg, k, c, k1, b)
  }

  /** Materialize the full hybrid-retrieval INDEX for a corpus under
    * `dir` — the production layout [[hybridTopKFromIndex]] serves
    * from: `postings/` (idCol, token, tf, dl) range-partitioned and
    * sorted by token (file-level min/max pruning turns a query-term
    * read into a handful of row groups), `df/` (token, df) laid out
    * the same way, `norms/` (idCol, dnorm) and `stats/` (one row:
    * n, avgdl). df, norms and stats are QUERY-INDEPENDENT — pricing
    * them at build time is what lets a serve touch only query-term
    * postings instead of re-aggregating the corpus per batch (at
    * 100 TB the df/norm re-aggregation IS the serve cost). The df
    * and norm frames derive from the WRITTEN postings, not the raw
    * text, so the corpus is tokenized exactly once. */
  def writeHybridIndex(docs: DataFrame, idCol: String, textCol: String,
      dir: String, nPartitions: Int = 0): Unit = {
    val spark = docs.sparkSession
    val np = if (nPartitions > 0) nPartitions
      else spark.conf.get("spark.sql.shuffle.partitions").toInt
    def byToken(df: DataFrame, name: String): Unit =
      GraftSession.write(df.repartitionByRange(np, col("token"))
        .sortWithinPartitions("token")).mode("overwrite").parquet(s"$dir/$name")
    byToken(Bm25.postings(docs, idCol, textCol), "postings")
    val post = spark.read.parquet(s"$dir/postings")
    byToken(post.groupBy(col("token")).agg(count(lit(1)).as("df")), "df")
    GraftSession.write(post.groupBy(col(idCol)).agg(max(col("dl")).as("__dl"))
        .agg(count(lit(1)).as("n"), avg(col("__dl")).as("avgdl")))
      .mode("overwrite").parquet(s"$dir/stats")
    val dfA = spark.read.parquet(s"$dir/df")
    val stats = spark.read.parquet(s"$dir/stats")
    GraftSession.write(post.join(dfA, "token").crossJoin(broadcast(stats))
        .withColumn("w", col("tf") * log(col("n").cast("double") / col("df")))
        .where(col("w") > 0).groupBy(col(idCol))
        .agg(sqrt(sum(col("w") * col("w"))).as("dnorm"))
        .coalesce(np))
      .mode("overwrite").parquet(s"$dir/norms")
  }

  /** [[hybridTopKFromPostings]] served from a [[writeHybridIndex]]
    * directory — the steady-state read path: df, doc norms and corpus
    * stats come off the index (no corpus-side aggregation at all),
    * and both the postings and df reads carry a pushed-down
    * `token IN (query vocabulary)` filter against token-sorted files,
    * so the only corpus-scale data touched is the query terms' own
    * posting lists. The query vocabulary collects driver-side to
    * become that literal filter — bounded by the same
    * queries-are-broadcast contract every ranker here already has
    * (query-set-sized metadata, never corpus data). Scores are
    * identical to the inline path: same formulas over the same
    * persisted values. */
  def hybridTopKFromIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, idCol: String,
      queries: DataFrame, qidCol: String, qtextCol: String,
      kPerLeg: Int = 20, k: Int = 10, c: Int = 60,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(kPerLeg > 0 && k > 0 && c >= 0,
      "kPerLeg and k must be positive, c non-negative")
    val qterms = queries.select(col(qidCol).as("query_id"),
      explode(array_distinct(tokens(col(qtextCol)))).as("token"))
    // query-set-sized metadata resolves DRIVER-SIDE (the queries are
    // bounded and broadcast by contract — these collects move query
    // vocabulary, never corpus data): the term list becomes a
    // pushed-down IN filter on the token-sorted postings, and df +
    // corpus stats fold into a LOCAL query-term relation, so the whole
    // serve is ONE distributed pass over query-term postings instead
    // of a chain of broadcast-subquery jobs over the index
    val qtermRows = qterms.collect()
    val qtoks = qtermRows.map(_.getString(1)).distinct.toSeq
    val statsRow = spark.read.parquet(s"$dir/stats").head()
    val (n, avgdl) = (statsRow.getAs[Long]("n"), statsRow.getAs[Double]("avgdl"))
    val dfByTok = spark.read.parquet(s"$dir/df")
      .where(col("token").isin(qtoks: _*))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val qwRows = qtermRows.flatMap { r =>
      dfByTok.get(r.getString(1))
        .map(df => org.apache.spark.sql.Row.fromSeq(r.toSeq :+ df))
    }
    val qwSchema = org.apache.spark.sql.types.StructType(
      qterms.schema.fields :+ org.apache.spark.sql.types
        .StructField("df", org.apache.spark.sql.types.LongType))
    import scala.jdk.CollectionConverters._
    // qw itself is still a Spark expression over the local relation —
    // identical arithmetic (and identical round-6 parity) to the
    // inline path, just evaluated over driver-resolved inputs
    val qw = spark.createDataFrame(qwRows.toSeq.asJava, qwSchema)
      .withColumn("__n", lit(n)).withColumn("__avgdl", lit(avgdl))
      .withColumn("qw", log(col("__n").cast("double") / col("df")))
    val post = spark.read.parquet(s"$dir/postings")
      .where(col("token").isin(qtoks: _*))
    val dnorm = spark.read.parquet(s"$dir/norms")
      .select(col(idCol), col("dnorm").as("__dnorm"))
    hybridCore(post, dnorm, qw, idCol, kPerLeg, k, c, k1, b)
  }

  /** Shared scoring/fusion tail of the hybrid ranker. `post` is the
    * candidate posting frame (already query-term-filtered on the
    * index path), `dnorm` the (idCol, __dnorm) doc-norm frame, `qw`
    * the tiny query-term frame carrying (query_id, token, qw, df,
    * __n, __avgdl). ONE candidate aggregation computes both leg
    * scores; the tf·idf dot collapses to Σ tf·qw² because the doc
    * weight w = tf·ln(N/df) shares its log factor with qw. The scored
    * legs union into ONE rank-window shuffle (partitioned by leg ×
    * query), and RRF fusion is a sum over leg ranks — equivalent to
    * the full-outer [[rrfFuse]] with one exchange instead of two
    * windows plus a full-outer join. Everything here is bounded by
    * |queries| × candidate docs. */
  private def hybridCore(post: DataFrame, dnorm: DataFrame, qw: DataFrame,
      idCol: String, kPerLeg: Int, k: Int, c: Int,
      k1: Double, b: Double): DataFrame = {
    val qnorms = qw.where(col("qw") > 0).groupBy(col("query_id"))
      .agg(sqrt(sum(col("qw") * col("qw"))).as("__qnorm"))
    val cand = post
      .join(broadcast(qw.select(col("query_id"), col("token"), col("qw"),
        col("df"), col("__n"), col("__avgdl"))), "token")
      .withColumn("__idf",
        log(lit(1.0) + (col("__n") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("__bmw",
        col("__idf") * col("tf") * (lit(k1) + 1.0) /
          (col("tf") + lit(k1) * (lit(1.0) - lit(b)
            + lit(b) * col("dl") / col("__avgdl"))))
      .groupBy(col("query_id"), col(idCol))
      .agg(round(sum(col("__bmw")), 6).as("__bm"),
        sum(when(col("qw") > 0, col("tf") * col("qw") * col("qw"))
          .otherwise(lit(0.0))).as("__dot"))
    // BOTH legs from ONE pass over the candidate aggregate (a lazy
    // `cand` referenced by two union branches executes its joins and
    // aggregation twice): left-join the norm frames — a doc with no
    // positive-idf term has __dot = 0 and possibly no dnorm row, and
    // a query with no positive-idf term has no qnorm row; in either
    // case the tf leg's score is NULL and the explode drops it, which
    // is exactly the rows the old inner-join tf leg excluded — and
    // melt into (leg, score) rows.
    // dot > 0 ⟺ the doc shares a positive-idf term with the query —
    // exactly the docs the standalone tf·idf leg would rank.
    val wLeg = Window.partitionBy(col("__leg"), col("query_id"))
      .orderBy(col("score").desc, col(idCol))
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col(idCol))
    cand
      .join(dnorm, Seq(idCol), "left")
      .join(broadcast(qnorms), Seq("query_id"), "left")
      .select(col("query_id"), col(idCol), explode(array(
        struct(lit(0).as("__leg"), col("__bm").as("score")),
        struct(lit(1).as("__leg"),
          when(col("__dot") > 0,
            round(col("__dot") / (col("__dnorm") * col("__qnorm")), 6))
            .as("score")))).as("__ls"))
      .select(col("query_id"), col(idCol),
        col("__ls.__leg").as("__leg"), col("__ls.score").as("score"))
      .where(col("score").isNotNull)
      .withColumn("rank", row_number().over(wLeg))
      .where(col("rank") <= kPerLeg)
      .groupBy(col("query_id"), col(idCol))
      .agg(round(sum(lit(1.0) / (lit(c) + col("rank"))), 6).as("rrf"))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col(idCol), col("rrf"), col("rank"))
  }

  /** Reciprocal-rank fusion of two per-query rankings. Inputs are
    * (query_id, <idCol>, ..., rank) frames (any extra columns are
    * ignored); a document missing from one list simply contributes
    * nothing from it. The fused score is rounded to 6 digits before
    * re-ranking (sums of 1/(c+r) terms differ in the last ulp across
    * engines depending on addition order) and ties break on the id.
    * Output: (query_id, <idCol>, rrf, rank) — top `k` per query. */
  def rrfFuse(a: DataFrame, b: DataFrame, idCol: String,
      k: Int = 10, c: Int = 60): DataFrame = {
    require(k > 0 && c >= 0, "k must be positive, c non-negative")
    val aa = a.select(col("query_id"), col(idCol), col("rank").as("__ra"))
    val bb = b.select(col("query_id"), col(idCol), col("rank").as("__rb"))
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col(idCol))
    aa.join(bb, Seq("query_id", idCol), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(c) + col("__ra")), lit(0.0))
          + coalesce(lit(1.0) / (lit(c) + col("__rb")), lit(0.0)), 6))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col(idCol), col("rrf"), col("rank"))
  }

  /** Exact phrase search over the positional token stream: documents
    * where the words of `phrase` occur CONSECUTIVELY (whitespace
    * tokenization, the corpus-wide [[tokens]] convention), with the
    * occurrence count and the first match position (1-based). The
    * positional leg the bag-of-words rankers ([[Bm25.topK]],
    * [[tfidfSearchTopK]]) cannot express — "hash join" as a phrase,
    * not two independent terms.
    *
    * Scale shape: the positional postings are pruned to the phrase's
    * own vocabulary BEFORE any join (an `isin` filter riding the
    * scan-side explode), so the m−1 position-shift equi-joins see
    * only |phrase-term postings| rows, never the corpus token stream;
    * each join keys on (doc, position) — long-keyed, equi, AQE-safe.
    * A phrase of one word degenerates to the filter alone.
    * Output: idCol, n_matches, first_pos. */
  def phraseSearch(docs: DataFrame, idCol: String, textCol: String,
      phrase: String): DataFrame = {
    val words = phrase.trim.split("\\s+").toSeq
    require(words.nonEmpty && words.head.nonEmpty, "phrase must be non-empty")
    val toks = docs
      .select(col(idCol), posexplode(tokens(col(textCol))).as(Seq("p0", "tok")))
      .where(col("tok").isin(words: _*))
      .select(col(idCol), (col("p0") + 1).as("pos"), col("tok"))
    val start = toks.where(col("tok") === words.head)
      .select(col(idCol), col("pos"))
    val matched = words.zipWithIndex.drop(1)
      .foldLeft(start) { case (acc, (w, i)) =>
        acc.join(toks.where(col("tok") === w)
          .select(col(idCol), (col("pos") - i).as("pos")), Seq(idCol, "pos"))
      }
    matched.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_matches"),
        min(col("pos")).cast("long").as("first_pos"))
  }
}
