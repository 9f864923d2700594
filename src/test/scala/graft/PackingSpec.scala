package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.{tokenCount, tokens}
import graft.ops.Packing

class PackingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs =
    graft.etl.Tables.table(spark, "/root/testdata/sf0.001", "documents")
      .select($"doc_id",
        tokenCount(tokens($"text")).cast("long").as("n_tokens"))

  test("two-phase distributed pack equals the global-window reference") {
    val a = Packing.packByBudget(docs, "doc_id", "n_tokens", 1024L,
      expr("doc_id div 37"))
    val b = Packing.packByBudgetGlobal(docs, "doc_id", "n_tokens", 1024L)
    assert(a.except(b).isEmpty && b.except(a).isEmpty)
  }

  test("shards fill to the budget; ids contiguous from 0; docs never split") {
    val budget = 2048L
    val packed = Packing.packByBudget(docs, "doc_id", "n_tokens", budget,
      expr("doc_id div 100"))
    val maxDoc = docs.agg(max("n_tokens")).as[Long].head()
    val per = packed.groupBy("shard").agg(sum("n_tokens").as("tot")).collect()
    // a shard covers a [k*B, (k+1)*B) offset interval: its doc total is
    // bounded by the interval width plus the one doc that straddles out
    assert(per.forall(_.getLong(1) <= budget + maxDoc))
    val ids = per.map(_.getLong(0)).sorted.toSeq
    assert(ids == (0L until ids.length).toSeq)
    // every document appears exactly once (never split, never dropped)
    assert(packed.count() == docs.count())
    assert(packed.select("doc_id").distinct().count() == docs.count())
  }

  test("assignment is deterministic across input partitioning") {
    val a = Packing.packByBudget(docs.repartition(7), "doc_id", "n_tokens",
      1024L, expr("doc_id div 50"))
    val b = Packing.packByBudget(docs.repartition(3), "doc_id", "n_tokens",
      1024L, expr("doc_id div 50"))
    assert(a.except(b).isEmpty && b.except(a).isEmpty)
  }

  test("q120 shape: shards packed on REAL BPE token counts stay in budget") {
    val budget = 4096L
    val bpeDocs = graft.etl.Tables
      .table(spark, "/root/testdata/sf0.001", "documents")
      .select($"doc_id",
        size(graft.expressions.BpePieces($"text",
          graft.gates.TextGates.PinnedBpeMerges)).cast("long").as("n_tokens"))
    val packed = Packing.packByBudget(bpeDocs, "doc_id", "n_tokens", budget,
      expr("doc_id div 100"))
    val maxDoc = bpeDocs.agg(max("n_tokens")).as[Long].head()
    val per = packed.groupBy("shard").agg(sum("n_tokens").as("tot")).collect()
    assert(per.forall(_.getLong(1) <= budget + maxDoc))
    assert(packed.count() == bpeDocs.count())
    // BPE counts exceed whitespace counts (subwords >= words) — the
    // budget unit actually changed when q120 swapped tokenizers
    val ws = docs.agg(sum("n_tokens")).as[Long].head()
    val bpe = bpeDocs.agg(sum("n_tokens")).as[Long].head()
    assert(bpe >= ws, s"BPE total $bpe < whitespace total $ws")
  }
}
