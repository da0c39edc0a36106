package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.LangIdNgram

/** Cavnar–Trenkle character-n-gram language ID: planted multilingual
  * recovery, short-doc null, deterministic tie-break.
  */
class LangIdNgramSpec extends AnyFunSuite with SparkSuite {

  private def labeled = {
    import spark.implicits._
    Seq(
      ("en", "the cat sat on the mat with the dog and the bird"),
      ("en", "the quick brown fox and the lazy dog in the house"),
      ("fr", "le chat est sur le tapis avec le chien et les oiseaux"),
      ("fr", "les enfants et les chiens jouent dans le jardin avec eux"),
      ("de", "der hund und die katze spielen in dem garten mit dem ball"),
      ("de", "die kinder und der vogel singen in dem haus mit der katze"))
      .toDF("lang", "text")
  }

  test("classify recovers planted languages on unseen same-language text") {
    import spark.implicits._
    val profiles = LangIdNgram.fitProfiles(labeled, "lang", "text",
      n = 3, k = 30)
    assert(profiles.map(_.lang).distinct.sorted == Seq("de", "en", "fr"))
    // rank lists are 1..k' per language, dense
    profiles.groupBy(_.lang).foreach { case (_, ps) =>
      assert(ps.map(_.rank).sorted == (1 to ps.size))
    }
    val unseen = Seq(
      (1L, "the bird sat with the dog"),
      (2L, "le chien est avec les enfants"),
      (3L, "die katze und der vogel spielen"))
      .toDF("doc_id", "text")
    val out = LangIdNgram.classify(unseen, "doc_id", "text", profiles,
        n = 3, k = 30)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "en", 2L -> "fr", 3L -> "de"))
  }

  test("short documents (< n chars) predict null; disjoint ties go to the lexically smallest language") {
    import spark.implicits._
    val profiles = LangIdNgram.fitProfiles(labeled, "lang", "text",
      n = 3, k = 30)
    val docs = Seq(
      (1L, "ab"),            // no trigram → null prediction
      (2L, "zzz qqq xxx"))   // no profile overlap → full-penalty tie
      .toDF("doc_id", "text")
    val out = LangIdNgram.classify(docs, "doc_id", "text", profiles,
        n = 3, k = 30)
      .collect().map(r => r.getLong(0) ->
        ((Option(r.getString(1)), if (r.isNullAt(2)) -1L else r.getLong(2))))
      .toMap
    assert(out(1L) == ((None, -1L)))
    // doc 2: 9 distinct grams ("zzz", "zz ", "z q", ... ) all absent from
    // every profile → score k·ng for all languages, tie broken to "de"
    val (pred2, score2) = out(2L)
    assert(pred2.contains("de"))
    assert(score2 % 30 == 0 && score2 > 0)
  }
}
