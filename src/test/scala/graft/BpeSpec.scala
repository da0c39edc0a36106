package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Bpe

/** Byte-level BPE: lossless roundtrip, planted merge-chain arithmetic,
  * deterministic learning, and the distributed counting operator.
  */
class BpeSpec extends AnyFunSuite with SparkSuite {

  private val demo = Bpe.Vocab(Seq(("a", "a"), ("aa", "aa"), ("b", "c")))

  test("pre-tokenizer partitions the text (concatenation is the identity)") {
    val tricky = Seq(
      "hello world", "it's we'll they've don't", "  leading and  double",
      "tab\tand\nnewline", "trailing spaces   ", "digits 123 mix4ed",
      "punct!!! ...and, (parens)", "", "   ", "naïve café über",
      "中文字符 and ASCII", "emoji 😀 ok", "a", " ")
    tricky.foreach { s =>
      assert(Bpe.preTokenize(s).mkString == s, s"pretokenize broke on '$s'")
    }
  }

  test("pre-tokenizer uses Unicode word boundaries (GPT-2 \\p{L}/\\p{N})") {
    // one WORD per accented/CJK run — an ASCII-class pattern would cut
    // "naïve" into "na" + "ï" + "ve" and triple the token count
    assert(Bpe.preTokenize("naïve café") == Seq("naïve", " café"))
    assert(Bpe.preTokenize("aé1 中文") == Seq("aé", "1", " 中文"))
    // merges can cross the former ASCII/non-ASCII split: é = C3 A9, so
    // (x, Ã) only applies when "xé" is ONE pre-token
    val v = Bpe.Vocab(Seq(("x", "Ã")))
    assert(Bpe.encode("xé", v) == Seq("xÃ", "©"))
    assert(Bpe.decode(Bpe.encode("xé", v)) == "xé")
    // Unicode whitespace (NBSP) classifies as whitespace, not punctuation
    assert(Bpe.preTokenize("a\u00A0b") == Seq("a", "\u00A0", "b"))
  }

  test("encode-decode roundtrip is byte-exact, with and without merges") {
    val learned = Bpe.learn(Seq("the quick brown fox", "the lazy dog",
      "the the the quick quick"), numMerges = 30)
    val tricky = Seq(
      "the quick brown fox jumps", "naïve café über straße",
      "中文字符串测试", "emoji 😀🎉 mix", "it's we'll",
      "spaces   and\ttabs\nnewlines", "aaaaaaaaa bc ddd", "", "x")
    for (v <- Seq(demo, learned, Bpe.Vocab(Seq.empty)); s <- tricky) {
      assert(Bpe.decode(Bpe.encode(s, v)) == s,
        s"roundtrip broke on '$s' with ${v.merges.size} merges")
    }
  }

  test("planted merge chain: run of k 'a's tokenizes to k/4 + (k/2)%2 + k%2") {
    (1 to 40).foreach { k =>
      val expected = k / 4 + (k / 2) % 2 + k % 2
      val got = Bpe.encodeWord("a" * k, demo).length
      assert(got == expected, s"k=$k got $got want $expected")
    }
    // merge order is rank order, not frequency: (b,c) applies inside a
    // pre-token even when 'a' merges exist
    assert(Bpe.encode("bc", demo) == Seq("bc"))
    assert(Bpe.encode("abca", demo) == Seq("a", "bc", "a"))
  }

  test("learn is deterministic and actually compresses its training text") {
    val corpus = Seq("low lower lowest", "low low lowest", "newer newest new")
    val v1 = Bpe.learn(corpus, 20)
    val v2 = Bpe.learn(corpus, 20)
    assert(v1.merges == v2.merges)
    assert(v1.merges.nonEmpty)
    val before = corpus.map(Bpe.countTokens(_, Bpe.Vocab(Seq.empty))).sum
    val after = corpus.map(Bpe.countTokens(_, v1)).sum
    assert(after < before, s"learned merges did not compress: $after >= $before")
    // lossless under the learned vocab too
    corpus.foreach(s => assert(Bpe.decode(Bpe.encode(s, v1)) == s))
  }

  test("learnDistributed matches driver-side learn merge-for-merge") {
    import spark.implicits._
    // mixed corpus: repeats, unicode (é = 2 bytes), digits, ties — the
    // distributed fit must reproduce learn()'s merge SEQUENCE exactly,
    // including the count-desc + lexicographically-smallest tie-break
    val corpus = Seq("low lower lowest", "low low lowest",
      "newer newest new", "café café 1234 1234", "aa aa bb bb")
    val expected = Bpe.learn(corpus, 12).merges
    val df = corpus.map(Tuple1(_)).toDF("text").repartition(3)
    val got = Bpe.learnDistributed(df, "text", 12)
    assert(got.map(m => (m._1, m._2)) == expected)
    // counts are positive and non-increasing is NOT required (BPE counts
    // can rise after a merge frees adjacencies) — but every winning
    // count must match a driver-side recount at that round's state
    assert(got.forall(_._3 > 0))
    assert(Bpe.vocabFrom(got).merges == expected)
    // null text rows are skipped, not NPE'd
    val withNull = (corpus.map(Tuple1(_)) :+ Tuple1(null: String))
      .toDF("text")
    assert(Bpe.learnDistributed(withNull, "text", 3).map(m => (m._1, m._2))
      == Bpe.learn(corpus, 3).merges)
  }

  test("tokenCount operator appends counts partition-wise, NULL-safe") {
    import spark.implicits._
    val df = Seq((1L, "aaaa bc"), (2L, "aaaaaaaa"), (3L, null: String))
      .toDF("id", "text").repartition(2)
    val out = Bpe.tokenCount(df, "text", demo).collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(2)) -1 else r.getInt(2))).toMap
    // "aaaa" -> 1 token; " bc" -> [' ', bc] -> 2; total 3
    assert(out(1L) == 3)
    // 8 a's -> 8/4 + 0 + 0 = 2
    assert(out(2L) == 2)
    assert(out(3L) == -1) // NULL text stays NULL
  }
}
