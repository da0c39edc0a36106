package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Urls

/** URL normalization rules + dedup grouping (RefinedWeb-style URL-level
  * dedup — the stage crawl pipelines run before text dedup).
  */
class UrlsSpec extends AnyFunSuite with SparkSuite {

  private def norm(urls: (String, String)*): Unit = {
    import spark.implicits._
    val out = urls.map(_._1).map(Tuple1(_)).toDF("url")
      .select(Urls.normalizeUrl(col("url")).as("n"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getString(0))
    urls.map(_._2).zip(out).foreach { case (want, got) =>
      assert(got == want, s"expected $want, got $got")
    }
  }

  test("scheme and host lowercase; path case preserved") {
    norm(
      "HTTPS://Example.COM/Path/X" -> "https://example.com/Path/X",
      "http://EXAMPLE.com/a" -> "http://example.com/a")
  }

  test("www, default ports, fragments, trailing slashes") {
    norm(
      "https://www.example.com/a" -> "https://example.com/a",
      "http://example.com:80/a" -> "http://example.com/a",
      "https://example.com:443/a" -> "https://example.com/a",
      // non-default ports and foreign schemes keep their port
      "https://example.com:8443/a" -> "https://example.com:8443/a",
      "ftp://example.com:443/a" -> "ftp://example.com:443/a",
      "https://example.com/a#frag" -> "https://example.com/a",
      "https://example.com/a/" -> "https://example.com/a",
      "https://example.com/" -> "https://example.com",
      "https://example.com" -> "https://example.com")
  }

  test("userinfo is preserved case-sensitively; host rules skip it") {
    norm(
      // host rules (www strip, port, lowercase) apply to the HOST even
      // with userinfo present — and never touch the userinfo itself
      "https://User@www.Example.com:443/a" -> "https://User@example.com/a",
      "https://www.pw@example.com/a" -> "https://www.pw@example.com/a",
      // the real site www.com keeps its host: stripping would conflate
      // it with a nonexistent host 'com'
      "https://www.com/x" -> "https://www.com/x",
      "https://WWW.COM/x" -> "https://www.com/x",
      "https://www.example.com/x" -> "https://example.com/x")
  }

  test("query parameters sort; empty query drops its '?'") {
    norm(
      "https://example.com/a?b=2&a=1" -> "https://example.com/a?a=1&b=2",
      "https://example.com/a?a=1&b=2" -> "https://example.com/a?a=1&b=2",
      "https://example.com/a?" -> "https://example.com/a",
      "https://example.com/a?z=1#f" -> "https://example.com/a?z=1")
  }

  test("non-URL strings pass through trimmed; NULL stays NULL") {
    norm(
      "  not a url  " -> "not a url",
      "example.com/path" -> "example.com/path")
    import spark.implicits._
    val n = Seq(Tuple1(null: String)).toDF("url")
      .select(Urls.normalizeUrl(col("url"))).head
    assert(n.isNullAt(0))
  }

  test("urlFilter: blocklist (incl. subdomains), word score, total keep") {
    import spark.implicits._
    val rows = Seq(
      (1L, "https://good.example.org/a"),          // clean
      (2L, "https://tracker.net/x"),               // blocked exact
      (3L, "https://ads.tracker.net/x"),           // blocked subdomain
      (4L, "https://nottracker.net/x"),            // NOT a subdomain
      (5L, "https://example.com/FREE-CASINO"),     // 90 >= 50 → drop
      (6L, "https://example.com/a?ref=free"),      // 30 < 50 → keep
      (7L, null.asInstanceOf[String]))             // NULL → kept=false
      .toDF("doc_id", "url")
    val out = Urls.urlFilter(rows, "url",
        blockedDomains = Seq("tracker.net"),
        scoredWords = Seq(("casino", 60), ("free", 30)), maxScore = 50)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(r.fieldIndex("url_word_score")),
          r.getBoolean(r.fieldIndex("url_keep"))))).toMap
    assert(out(1L) == ((0, true)))
    assert(out(2L) == ((0, false)) && out(3L) == ((0, false)))
    assert(out(4L) == ((0, true)))   // suffix test is dot-anchored
    assert(out(5L) == ((90, false))) // case-insensitive match
    assert(out(6L) == ((30, true)))
    assert(out(7L) == ((0, false)))  // total: never a NULL keep
    // urlHost: userinfo/port dropped, conditional www strip
    val hosts = Seq(
      "https://u:p@WWW.Example.com:8443/x" -> "example.com",
      "https://www.com/x" -> "www.com",
      "not a url" -> "").map(_._1).map(Tuple1(_)).toDF("u")
      .select(Urls.urlHost(col("u"))).collect().map(_.getString(0))
    assert(hosts.toSeq == Seq("example.com", "www.com", ""))
  }

  test("dedupByUrl groups all spellings of one page; min-id canonical") {
    import spark.implicits._
    val rows = Seq(
      (1L, "https://Example.COM/p"),
      (2L, "https://www.example.com/p/"),
      (3L, "https://example.com:443/p#x"),
      (4L, "https://example.com/q?b=2&a=1"),
      (5L, "https://example.com/q?a=1&b=2"),
      (6L, "https://other.com/p")).toDF("doc_id", "url")
    val out = Urls.dedupByUrl(rows, "doc_id", "url")
      .select("doc_id", "canonical_id", "n_copies")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(1L) == ((1L, 3L)) && out(2L) == ((1L, 3L)) && out(3L) == ((1L, 3L)))
    assert(out(4L) == ((4L, 2L)) && out(5L) == ((4L, 2L)))
    assert(out(6L) == ((6L, 1L)))
  }
}
