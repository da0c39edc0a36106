package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.QualityModel

/** Hashed-linear quality gate: planted separable corpus, deterministic
  * fit, exact integer threshold semantics.
  */
class QualityModelSpec extends AnyFunSuite with SparkSuite {

  private def fixtures = {
    import spark.implicits._
    val pos = Seq(
      "clean measured prose about real things",
      "a clear sentence with real structure",
      "measured clear prose about structure").toDF("text")
    val neg = Seq(
      "buy casino pills now click now",
      "click casino win pills buy now",
      "win buy click pills casino").toDF("text")
    (pos, neg)
  }

  test("planted separable corpus: scores separate, keep follows sign") {
    import spark.implicits._
    val (pos, neg) = fixtures
    val w = QualityModel.fitLogOddsMicro(pos, neg, "text", nBuckets = 256)
    val docs = Seq(
      (1L, "clear measured prose"),        // pos-vocabulary → keep
      (2L, "buy pills click casino now"),  // neg-vocabulary → drop
      (3L, "clean real structure prose"))  // pos-vocabulary → keep
      .toDF("doc_id", "text")
    val out = QualityModel.score(docs, "doc_id", "text", w, 256)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(out(1L)._2 > 0 && out(1L)._3)
    assert(out(2L)._2 < 0 && !out(2L)._3)
    assert(out(3L)._2 > 0 && out(3L)._3)
    // n_grams = unigrams + bigrams
    assert(out(1L)._1 == 3 + 2)
  }

  test("null-text docs score (0, 0) with a real boolean keep, never NULL") {
    import spark.implicits._
    val (pos, neg) = fixtures
    val w = QualityModel.fitLogOddsMicro(pos, neg, "text", nBuckets = 256)
    val docs = Seq((1L, "clear prose"), (2L, null: String))
      .toDF("doc_id", "text")
    val out = QualityModel.score(docs, "doc_id", "text", w, 256)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.isNullAt(3), r.getBoolean(3)))).toMap
    // the gate is total and two-valued: a NULL keep would vanish from
    // BOTH filter(keep) and filter(!keep)
    assert(out(2L) == ((0L, 0L, false, true)))
    assert(!out(1L)._3)
  }

  test("fit is deterministic; threshold is an exact integer cross-multiply") {
    import spark.implicits._
    val (pos, neg) = fixtures
    val w1 = QualityModel.fitLogOddsMicro(pos, neg, "text", nBuckets = 256)
    val w2 = QualityModel.fitLogOddsMicro(pos, neg, "text", nBuckets = 256)
    assert(w1.toSeq == w2.toSeq)
    val docs = Seq((1L, "clear measured prose")).toDF("doc_id", "text")
    val base = QualityModel.score(docs, "doc_id", "text", w1, 256)
      .head()
    val (ng, sc) = (base.getLong(1), base.getLong(2))
    // a per-gram threshold just above the doc's own mean flips keep off
    val above = sc / ng + 1
    val strict = QualityModel.score(docs, "doc_id", "text", w1, 256,
      thresholdMicroPerGram = above).head()
    assert(!strict.getBoolean(3))
    val lenient = QualityModel.score(docs, "doc_id", "text", w1, 256,
      thresholdMicroPerGram = sc / ng - 1).head()
    assert(lenient.getBoolean(3))
  }
}
