package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.expressions.{DotProduct, WordShingles}

/** Session extension registering graft's custom expressions for SQL use:
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *   SELECT dot_product(a.embedding, b.embedding) FROM ...
  *   SELECT word_shingles(split(text, ' '), 3) FROM docs
  *
  * (The Column-API forms in `graft.functions` need no registration;
  * this makes the same operators reachable from pure SQL strings, the
  * way the reference's users write queries.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions._

  override def apply(ext: SparkSessionExtensions): Unit = {
    functions.foreach { case (name, usage, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info(name, usage), builder))
    }
    ext.injectOptimizerRule(_ => graft.rules.HammingZeroToEquality)
    ext.injectOptimizerRule(_ => graft.rules.BucketedRangeJoin)
    ext.injectOptimizerRule(_ => graft.etl.MvRewrite)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}

object GraftExtensions {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "scala_udf")

  private val functions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("common_prefix_len",
      "common_prefix_len(a, b) - code-point length of the common prefix",
      args => {
        require(args.length == 2, "common_prefix_len(a, b) takes 2 arguments")
        graft.expressions.CommonPrefixLen(args.head, args(1))
      }),
    ("jaro_winkler",
      "jaro_winkler(a, b) - Jaro-Winkler similarity over UTF-8 bytes",
      args => {
        require(args.length == 2, "jaro_winkler(a, b) takes 2 arguments")
        graft.expressions.JaroWinkler(args.head, args(1))
      }),
    ("damerau_levenshtein",
      "damerau_levenshtein(a, b) - unrestricted Damerau-Levenshtein distance",
      args => {
        require(args.length == 2,
          "damerau_levenshtein(a, b) takes 2 arguments")
        graft.expressions.DamerauLevenshtein(args.head, args(1))
      }),
    ("dot_product", "dot_product(arr, arr) - double-accumulated dot product",
      args => {
        require(args.length == 2, "dot_product(a, b) takes 2 arguments")
        DotProduct(args.head, args(1))
      }),
    ("word_shingles",
      "word_shingles(array<string>, n) - distinct space-joined n-grams",
      args => {
        require(args.length == 2, "word_shingles(toks, n) takes 2 arguments")
        WordShingles(args.head, intArg(args(1), "word_shingles n"))
      }),
    ("simhash32",
      "simhash32(array<string>) - 32-bit SimHash of a token array",
      args => {
        require(args.length == 1, "simhash32(toks) takes 1 argument")
        graft.expressions.Simhash32(args.head)
      }),
    ("char_entropy",
      "char_entropy(text) - Shannon entropy (nats) over code points",
      args => {
        require(args.length == 1, "char_entropy(text) takes 1 argument")
        graft.expressions.CharEntropy(args.head)
      }),
    ("multi_match",
      "multi_match(text, p1, p2, ...) - phrases occurring in text " +
        "(one Aho-Corasick pass; phrases must be string literals)",
      args => {
        require(args.length >= 2,
          "multi_match(text, p1, ...) takes a text and >=1 phrase")
        graft.expressions.MultiPhraseMatches(args.head,
          args.tail.map(strArg(_, "multi_match phrase")))
      }),
    ("winnow_fingerprints",
      "winnow_fingerprints(text, k, w) - winnowed (pos, fp) fingerprint structs",
      args => {
        require(args.length == 3,
          "winnow_fingerprints(text, k, w) takes 3 arguments")
        graft.expressions.WinnowFingerprints(args.head,
          intArg(args(1), "winnow_fingerprints k"),
          intArg(args(2), "winnow_fingerprints w"),
          graft.ops.Winnow.PosMod)
      }),
    ("year_week",
      "year_week(date) - the reference's %Y-%W week key (Monday-first)",
      args => {
        require(args.length == 1, "year_week(date) takes 1 argument")
        colExpr(graft.functions.DateTimeFunctions.yearWeek(asCol(args.head)))
      }),
    ("fingerprint",
      "fingerprint(text) - min 32-bit hash over char 5-gram shingles",
      args => {
        require(args.length == 1, "fingerprint(text) takes 1 argument")
        colExpr(graft.functions.TextFunctions.fingerprint(asCol(args.head)))
      }),
    ("z_order2",
      "z_order2(a, b) - 2-D Morton interleave of two non-negative longs",
      args => {
        require(args.length == 2, "z_order2(a, b) takes 2 arguments")
        colExpr(graft.etl.Layout.zOrder2(asCol(args.head), asCol(args(1))))
      }),
    ("pre_tokens",
      "pre_tokens(text) - GPT-2-style pre-tokenizer pieces (RE2-safe)",
      args => {
        require(args.length == 1, "pre_tokens(text) takes 1 argument")
        colExpr(graft.functions.TextFunctions.preTokens(asCol(args.head)))
      }),
    ("strip_markup",
      "strip_markup(text) - drop HTML tags/script/style/entities/zero-width",
      args => {
        require(args.length == 1, "strip_markup(text) takes 1 argument")
        colExpr(graft.functions.TextFunctions.stripMarkup(asCol(args.head)))
      }),
    ("normalize_unicode",
      "normalize_unicode(text, 'NFC'|'NFD'|'NFKC'|'NFKD') - java.text.Normalizer",
      args => {
        require(args.length == 2,
          "normalize_unicode(text, form) takes 2 arguments")
        require(args(1).foldable,
          "normalize_unicode form must be a string constant")
        graft.expressions.NormalizeUnicode(args.head,
          String.valueOf(args(1).eval()))
      }),
    ("quality_score",
      "quality_score(text) - composite [0,1] document quality heuristic",
      args => {
        require(args.length == 1, "quality_score(text) takes 1 argument")
        val t = asCol(args.head)
        colExpr(graft.functions.TextFunctions.qualityScore(t,
          graft.functions.TextFunctions.tokens(t)))
      }),
    ("stopword_ratio",
      "stopword_ratio(text) - fraction of tokens in the EN stopword panel",
      args => {
        require(args.length == 1, "stopword_ratio(text) takes 1 argument")
        colExpr(graft.functions.TextFunctions.stopwordRatio(
          graft.functions.TextFunctions.tokens(asCol(args.head))))
      }),
    ("punct_ratio",
      "punct_ratio(text) - fraction of punctuation characters",
      args => {
        require(args.length == 1, "punct_ratio(text) takes 1 argument")
        colExpr(graft.functions.TextFunctions.punctRatio(asCol(args.head)))
      }),
    ("lang_id",
      "lang_id(text) - n-gram-heuristic language id over en/es/fr",
      args => {
        require(args.length == 1, "lang_id(text) takes 1 argument")
        colExpr(graft.functions.TextFunctions.langId(
          graft.functions.TextFunctions.tokens(asCol(args.head))))
      }),
    ("bpe_token_estimate",
      "bpe_token_estimate(text) - ~4-chars-per-token subword count estimate",
      args => {
        require(args.length == 1, "bpe_token_estimate(text) takes 1 argument")
        colExpr(graft.functions.TextFunctions.bpeTokenEstimate(
          graft.functions.TextFunctions.tokens(asCol(args.head))))
      }),
    ("h32",
      "h32(text) - deterministic unsigned 32-bit md5-prefix hash",
      args => {
        require(args.length == 1, "h32(text) takes 1 argument")
        colExpr(graft.functions.TextFunctions.h32(asCol(args.head)))
      }),
    ("redact_pii",
      "redact_pii(text) - mask emails, IPv4 addresses, intl phone numbers",
      args => {
        require(args.length == 1, "redact_pii(text) takes 1 argument")
        colExpr(graft.ops.Redact.redactPii(asCol(args.head)))
      }),
    ("redact_pii_full",
      "redact_pii_full(text) - mask email/card/ssn/ip/intl+US phone",
      args => {
        require(args.length == 1, "redact_pii_full(text) takes 1 argument")
        colExpr(graft.ops.Redact.redactPiiFull(asCol(args.head)))
      }),
    ("canonical_url",
      "canonical_url(url) - canonical form (case, ports, trackers, fragment)",
      args => {
        require(args.length == 1, "canonical_url(url) takes 1 argument")
        colExpr(graft.ops.Urls.canonicalizeUrl(asCol(args.head)))
      }),
    ("url_host",
      "url_host(url) - lowercased host of a scheme://... URL",
      args => {
        require(args.length == 1, "url_host(url) takes 1 argument")
        colExpr(graft.ops.Urls.urlHost(asCol(args.head)))
      }),
    ("registrable_domain",
      "registrable_domain(host) - naive last-two-labels domain key",
      args => {
        require(args.length == 1, "registrable_domain(host) takes 1 argument")
        colExpr(graft.ops.Urls.registrableDomain(asCol(args.head)))
      }),
    ("range_bucket",
      "range_bucket(x, width) - floor bucket id of a point (RangeJoin's equi key)",
      args => {
        require(args.length == 2, "range_bucket(x, width) takes 2 arguments")
        colExpr(graft.ops.RangeJoin.bucketOf(asCol(args.head),
          longArg(args(1), "range_bucket width")))
      }),
    ("range_buckets",
      "range_buckets(lo, hi, width) - bucket ids an interval covers; explode + equi-join = range join",
      args => {
        require(args.length == 3,
          "range_buckets(lo, hi, width) takes 3 arguments")
        colExpr(graft.ops.RangeJoin.coveringBuckets(asCol(args.head),
          asCol(args(1)), longArg(args(2), "range_buckets width")))
      }),
    ("half_life_weight",
      "half_life_weight(t, t_ref, half_life) - 0.5^((t_ref-t)/half_life); SUM(v*w) = decayed sum",
      args => {
        require(args.length == 3,
          "half_life_weight(t, t_ref, half_life) takes 3 arguments")
        colExpr(graft.ops.TimeSeries.halfLifeWeight(asCol(args.head),
          asCol(args(1)), doubleArg(args(2), "half_life_weight halfLife")))
      }))

  /** Fold a constant literal argument (bucket widths, half-lives) to a
    * Scala value at registration time; non-foldable arguments are a
    * user error worth a pointed message. */
  private def longArg(e: Expression, what: String): Long = {
    require(e.foldable, s"$what must be a constant")
    e.eval() match {
      case i: Int  => i.toLong
      case l: Long => l
      case other => throw new IllegalArgumentException(
        s"$what must be an integer constant, got $other")
    }
  }

  /** [[longArg]] narrowed to Int (shingle widths, winnow windows) — a
    * non-literal or non-integer argument gets a pointed resolution-time
    * error instead of an unbound-reference eval / ClassCastException. */
  private def strArg(e: Expression, what: String): String = {
    require(e.foldable, s"$what must be a constant string")
    e.eval() match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      case s: String => s
      case other => throw new IllegalArgumentException(
        s"$what must be a string literal, got $other")
    }
  }

  private def intArg(e: Expression, what: String): Int = {
    val l = longArg(e, what)
    require(l >= Int.MinValue && l <= Int.MaxValue,
      s"$what out of Int range: $l")
    l.toInt
  }

  private def doubleArg(e: Expression, what: String): Double = {
    require(e.foldable, s"$what must be a constant")
    e.eval() match {
      case i: Int    => i.toDouble
      case l: Long   => l.toDouble
      case f: Float  => f.toDouble
      case d: Double => d
      case d: org.apache.spark.sql.types.Decimal => d.toDouble
      case other => throw new IllegalArgumentException(
        s"$what must be a numeric constant, got $other")
    }
  }

  private def asCol(e: Expression) =
    org.apache.spark.sql.graftbridge.Bridge.column(e)
  private def colExpr(c: org.apache.spark.sql.Column): Expression =
    org.apache.spark.sql.graftbridge.Bridge.expression(c)

  /** Register into an already-running session (extensions classes only
    * take effect at session construction time). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    functions.foreach { case (name, usage, builder) =>
      org.apache.spark.sql.graftbridge.Bridge.registerFunction(
        spark, name, info(name, usage), builder)
    }
    spark.experimental.extraOptimizations ++=
      rules.filterNot(spark.experimental.extraOptimizations.contains)
    spark.experimental.extraStrategies ++=
      strategies.filterNot(spark.experimental.extraStrategies.contains)
  }

  private val rules = Seq(graft.rules.HammingZeroToEquality,
    graft.rules.BucketedRangeJoin, graft.etl.MvRewrite)
  private val strategies = Seq(graft.plans.AsOfJoinStrategy)

  /** Whether `spark` carries every rule and strategy [[register]] adds. */
  private[graft] def registeredOn(spark: org.apache.spark.sql.SparkSession): Boolean =
    rules.forall(spark.experimental.extraOptimizations.contains) &&
      strategies.forall(spark.experimental.extraStrategies.contains)
}
