package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Dsir

class DsirSpec extends AnyFunSuite with SparkSuite {

  test("grams: unigrams plus adjacent bigrams, occurrence bag") {
    import spark.implicits._
    val out = Seq(Tuple1("a b c"), Tuple1("x"), Tuple1("a a"))
      .toDF("text")
      .select(Dsir.grams(col("text")).as("g"))
      .collect().map(_.getSeq[String](0))
    assert(out(0) == Seq("a", "b", "c", "a b", "b c"))
    assert(out(1) == Seq("x"))                 // single token: no bigrams
    assert(out(2) == Seq("a", "a", "a a"))     // occurrences, not a set
  }

  test("grams: whitespace RUNS tokenize like single spaces (CCNet recipe)") {
    import spark.implicits._
    // crawl text carries newlines, tabs, and doubled spaces: the
    // tokenizer must neither glue "b\nc" into one pseudo-token nor admit
    // empty tokens between consecutive separators, and leading/trailing
    // whitespace must not produce an empty first/last token
    val out = Seq(
      Tuple1("a  b\nc\u000B d "), // double space, newline, VERTICAL TAB
                                  // (0x0B — in Java's \s but NOT RE2's;
                                  // the explicit class keeps both
                                  // engines splitting on it), trailing
      Tuple1("  x"),              // leading run
      Tuple1("a b c"))            // control: single spaces
      .toDF("text")
      .select(Dsir.grams(col("text")).as("g"))
      .collect().map(_.getSeq[String](0))
    assert(out(0) == Seq("a", "b", "c", "d", "a b", "b c", "c d"))
    assert(out(1) == Seq("x"))
    assert(out(2) == Seq("a", "b", "c", "a b", "b c"))
    // and the gram bag is IDENTICAL to the single-space spelling of the
    // same token sequence — whitespace shape is invisible to the model
    val norm = Seq(Tuple1("a b c d")).toDF("text")
      .select(Dsir.grams(col("text")).as("g"))
      .head.getSeq[String](0)
    assert(out(0) == norm)
  }

  test("gramBucket: stable, in range, md5-derived") {
    import spark.implicits._
    val grams = Seq("hello", "world", "a b", "ümlaut", "").map(Tuple1(_))
    val out = grams.toDF("g")
      .select(Dsir.gramBucket(col("g"), 1024).as("b"))
      .collect().map(_.getInt(0))
    assert(out.forall(b => b >= 0 && b < 1024))
    // first 4 hex of md5("hello") = "5d41" = 0x5d41 = 23873 → % 1024
    assert(out(0) == 23873 % 1024)
    // determinism across evaluations
    val again = grams.toDF("g")
      .select(Dsir.gramBucket(col("g"), 1024).as("b"))
      .collect().map(_.getInt(0))
    assert(out.sameElements(again))
  }

  test("logRatioMicro: identical distributions score exactly zero") {
    val c = Array(5L, 0L, 17L, 3L)
    assert(Dsir.logRatioMicro(c, c).forall(_ == 0L))
  }

  test("logRatioMicro: target-enriched buckets positive, depleted negative") {
    val target = Array(10L, 0L)
    val raw = Array(10L, 10L)
    val lr = Dsir.logRatioMicro(target, raw)
    assert(lr(0) > 0)   // bucket 0 relatively enriched in target
    assert(lr(1) < 0)   // bucket 1 absent from target
  }

  test("importanceWeights ranks target-like docs above anti-target docs") {
    import spark.implicits._
    // target vocabulary: t1/t2; raw-only vocabulary: z1/z2
    val raw = Seq(
      (1L, "t1 t2 t1 t2 t1 t2"),   // pure target-like
      (2L, "t1 z1 t2 z2"),         // mixed
      (3L, "z1 z2 z1 z2 z1 z2"))   // pure anti-target
      .toDF("doc_id", "text")
    val target = Seq((100L, "t1 t2 t1 t2")).toDF("doc_id", "text")
    val out = Dsir.importanceWeights(raw, target, "doc_id", "text", 256)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(1L)._1 == 11L)  // 6 unigrams + 5 bigrams
    // weights are unnormalized LLRs (smoothing shifts the absolute level
    // on tiny fixtures) — the selection-relevant invariant is the ORDER
    assert(out(1L)._2 > out(2L)._2)
    assert(out(2L)._2 > out(3L)._2)
  }

  test("gumbelTopK: deterministic, size-k, weight-dominant selection") {
    import spark.implicits._
    // one doc carries an overwhelming weight → always selected; the rest
    // tie at 0 and are picked purely by the deterministic noise
    val w = ((1L to 100L).map(i => (i, 0L)) :+ (999L, 1000000000L))
      .toDF("doc_id", "weight_micro")
    val pick = Dsir.gumbelTopK(w, "doc_id", "weight_micro", k = 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(pick.size == 10)
    assert(pick.contains(999L))
    val again = Dsir.gumbelTopK(w, "doc_id", "weight_micro", k = 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(pick == again)
  }

  test("importanceWeights scoring pass plans with zero corpus shuffle") {
    import spark.implicits._
    val raw = (1L to 50L).map(i => (i, s"w$i common tok$i")).toDF("doc_id", "text")
    val target = Seq((0L, "common")).toDF("doc_id", "text")
    val out = Dsir.importanceWeights(raw, target, "doc_id", "text", 64)
    val plan = out.queryExecution.executedPlan.toString
    // the per-doc fold is a projection over the broadcast 1-row table:
    // no SHUFFLE exchange, no aggregate over the corpus in the scoring
    // pass (BroadcastExchange of the 1-row table is the broadcast itself)
    assert("(?<!Broadcast)Exchange".r.findFirstIn(plan).isEmpty, plan)
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
  }
}
