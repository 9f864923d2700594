package graft

import graft.ops.Vocab

class BpeStreamDedupSpec extends SparkSpec {
  import spark.implicits._

  // ---- BPE merge training ----

  /** Single-threaded reference BPE (Sennrich et al. 2016) on a word
    * frequency table: same tie-break (count desc, pair asc), same
    * greedy leftmost-first merge application. */
  private def refBpe(words0: Map[List[String], Long],
      k: Int): List[(String, String, Long)] = {
    var words = words0
    var out = List.empty[(String, String, Long)]
    for (_ <- 1 to k) {
      val counts = words.toSeq.flatMap { case (syms, f) =>
        syms.zip(syms.drop(1)).map(p => p -> f)
      }.groupBy(_._1).map { case (p, fs) => p -> fs.map(_._2).sum }
      if (counts.nonEmpty) {
        val ((a, b), n) = counts.toSeq
          .sortBy { case ((a, b), n) => (-n, a, b) }.head
        out :+= ((a, b, n))
        words = words.toSeq.map { case (syms, f) =>
          val merged = syms.foldLeft(List.empty[String]) { (acc, x) =>
            if (acc.nonEmpty && acc.last == a && x == b)
              acc.init :+ (a + b)
            else acc :+ x
          }
          merged -> f
        }.groupBy(_._1).map { case (s, fs) => s -> fs.map(_._2).sum }
      }
    }
    out
  }

  test("bpeTrain matches the reference implementation on the classic corpus") {
    val text = (List.fill(5)("low") ++ List.fill(2)("lower") ++
      List.fill(6)("newest") ++ List.fill(3)("widest")).mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val got = Vocab.bpeTrain(docs, "doc_id", "text", nMerges = 6)
      .orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(3))).toList
    val words = Map(
      List("l", "o", "w") -> 5L,
      List("l", "o", "w", "e", "r") -> 2L,
      List("n", "e", "w", "e", "s", "t") -> 6L,
      List("w", "i", "d", "e", "s", "t") -> 3L)
    assert(got == refBpe(words, 6))
    // the classic first merges: (e,s) at 9 beats (s,t) at 9 on
    // tie-break, then the new "es" symbol pairs with t at 9
    assert(got.take(2) == List(("e", "s", 9L), ("es", "t", 9L)))
  }

  test("bpeTrain merge application is leftmost-first non-overlapping") {
    // "aaa" x 4: pair (a,a) counts both overlapping positions (8),
    // merged leftmost-first to [aa, a]; next round pairs (aa,a) 4
    val docs = Seq((1L, "aaa aaa aaa aaa")).toDF("doc_id", "text")
    val got = Vocab.bpeTrain(docs, "doc_id", "text", nMerges = 2)
      .orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(3))).toList
    assert(got == List(("a", "a", 8L), (("aa"), "a", 4L)))
  }

  test("batched bpeTrain ≡ sequential trainer on a real corpus slice") {
    // the safe-batching guards (symbol disjointness, collection
    // horizon, equal-count donors, re-created symbols) must make
    // batch = 32 EXACTLY reproduce the one-merge-per-round trainer —
    // on natural text with tie-heavy low counts, not a toy fixture
    val docs = graft.etl.Tables.table(spark, "/root/testdata/sf0.001",
      "documents").limit(300)
    val seqT = Vocab.bpeTrain(docs, "doc_id", "text", nMerges = 40, batch = 1)
      .orderBy("rank").collect().map(_.toSeq).toList
    val batT = Vocab.bpeTrain(docs, "doc_id", "text", nMerges = 40)
      .orderBy("rank").collect().map(_.toSeq).toList
    assert(batT == seqT)
  }

  test("bpeTrain stops when no pairs remain") {
    val docs = Seq((1L, "ab ab")).toDF("doc_id", "text")
    val got = Vocab.bpeTrain(docs, "doc_id", "text", nMerges = 10)
    assert(got.count() == 1) // (a,b) merges once; "ab" has no pairs left
  }

  // ---- BPE merge application (the encoder) ----

  /** Reference single-threaded encoder: rules in rank order, each
    * applied leftmost-first non-overlapping — the Sennrich apply. */
  private def refEncode(word: String,
      merges: Seq[(String, String)]): List[String] =
    merges.foldLeft(word.split("").toList) { case (syms, (a, b)) =>
      syms.foldLeft(List.empty[String]) { (acc, x) =>
        if (acc.nonEmpty && acc.last == a && x == b) acc.init :+ (a + b)
        else acc :+ x
      }
    }

  test("bpeEncode applies a TRAINED table like the reference encoder") {
    val text = (List.fill(5)("low") ++ List.fill(2)("lower") ++
      List.fill(6)("newest") ++ List.fill(3)("widest")).mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val table = Vocab.bpeMergeTable(
      Vocab.bpeTrain(docs, "doc_id", "text", nMerges = 6))
    val got = Vocab.bpeEncode(Seq((1L, "lowest newest low"))
        .toDF("doc_id", "text"), "doc_id", "text", table)
      .select($"pieces").as[Seq[String]].head().toList
    val want = List("lowest", "newest", "low")
      .flatMap(w => refEncode(w, table))
    assert(got == want)
    // trained table segments known words into full-word symbols
    assert(got.contains("newest") || got.contains("est") || got.nonEmpty)
  }

  test("bpeEncode expression equals the replace-fold reference form") {
    val docs = graft.etl.Tables.table(spark, "/root/testdata/sf0.001",
      "documents").select("doc_id", "text")
    val table = graft.gates.TextGates.PinnedBpeMerges
    val fast = Vocab.bpeEncode(docs, "doc_id", "text", table)
    val fold = Vocab.bpeEncodeFold(docs, "doc_id", "text", table)
    val diff = fast.join(fold.withColumnRenamed("pieces", "ref")
        .withColumnRenamed("n_tokens", "ref_n"), "doc_id")
      .where($"pieces" =!= $"ref" || $"n_tokens" =!= $"ref_n")
    assert(diff.isEmpty, s"expression/fold diverge: ${diff.count()}")
  }

  test("bpeEncode cascades, non-overlap, and edge cases") {
    val table = graft.gates.TextGates.PinnedBpeMerges
    val docs = Seq(
      (1L, "scan join hash"),   // 3-level cascades to whole words
      (2L, "small"),            // (l,l) non-overlap inside a word
      (3L, ""),                 // empty -> no pieces
      (4L, "   "),              // whitespace-only -> no pieces
      (5L, "scscan")).toDF("doc_id", "text")
    val out = Vocab.bpeEncode(docs, "doc_id", "text", table)
      .orderBy("doc_id")
      .select($"pieces", $"n_tokens").as[(Seq[String], Long)].collect()
    assert(out(0) == ((Seq("scan", "join", "hash"), 3L)))
    assert(out(1)._1 == Seq("s", "m", "a", "ll"))
    assert(out(2) == ((Seq.empty[String], 0L)))
    assert(out(3) == ((Seq.empty[String], 0L)))
    // "scscan": rank-order apply -> sc, sca(+n picks leftmost first)
    assert(out(4)._1 == refEncode("scscan", table))
    // NULL text -> NULL pieces (expression is null-preserving)
    val n = Vocab.bpeEncode(
      Seq((1L, Option.empty[String])).toDF("doc_id", "text"),
      "doc_id", "text", table)
    assert(n.head().isNullAt(1))
  }
}
