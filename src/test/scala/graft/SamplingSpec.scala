package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Sampling

/** Deterministic md5-threshold sampling: threshold encoding edges, nested
  * samples, exhaustive-and-exclusive split bands, and cross-run stability.
  */
class SamplingSpec extends AnyFunSuite with SparkSuite {

  test("hexThreshold encodes rates as fixed-width comparable hex") {
    assert(Sampling.hexThreshold(0.0) == "00000000")
    assert(Sampling.hexThreshold(0.5) == "80000000")
    assert(Sampling.hexThreshold(0.25) == "40000000")
    assert(Sampling.hexThreshold(1.0) == "g")   // above every hex digit
    assert(Sampling.hexThreshold(-3.0) == "00000000") // clamped
    assert(Sampling.hexThreshold(7.0) == "g")         // clamped
    assert(Sampling.hexThreshold(0.75).length == 8)
    // rates within rounding distance of 1 must NOT round up to the
    // 9-char "100000000" (which would sort below most prefixes and
    // silently collapse the keep rate) — they cap at the widest 8-digit
    // value and keep ~everything
    assert(Sampling.hexThreshold(0.9999999999) == "ffffffff")
    assert(Sampling.hexThreshold(math.nextDown(1.0)) == "ffffffff")
  }

  test("rate 1 keeps everything, rate 0 keeps nothing") {
    import spark.implicits._
    val df = (1L to 200L).toDF("k")
    assert(df.filter(Sampling.sampleKeep(col("k"), 1.0)).count() == 200)
    assert(df.filter(Sampling.sampleKeep(col("k"), 0.0)).count() == 0)
  }

  test("samples are nested: a lower rate selects a subset of a higher one") {
    import spark.implicits._
    val df = (1L to 2000L).toDF("k")
    def kept(r: Double) = df.filter(Sampling.sampleKeep(col("k"), r))
      .collect().map(_.getLong(0)).toSet
    val k25 = kept(0.25); val k50 = kept(0.5); val k75 = kept(0.75)
    assert(k25.subsetOf(k50) && k50.subsetOf(k75))
    // uniformity sanity: each rate lands within 5 points of its target
    assert(math.abs(k25.size / 2000.0 - 0.25) < 0.05, k25.size)
    assert(math.abs(k50.size / 2000.0 - 0.50) < 0.05, k50.size)
  }

  test("stratifiedKeep applies per-stratum rates with a default") {
    import spark.implicits._
    val df = (1L to 3000L).map(k => (k, if (k % 3 == 0) "a" else if (k % 3 == 1) "b" else "c"))
      .toDF("k", "s")
    val kept = df.filter(Sampling.stratifiedKeep(col("k"), col("s"),
      Map("a" -> 1.0, "b" -> 0.0)))
    val byStratum = kept.groupBy("s").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byStratum.getOrElse("a", 0L) == 1000L)  // rate 1: all of a
    assert(!byStratum.contains("b"))               // rate 0: none of b
    assert(byStratum("c") == 1000L)                // default 1.0: all of c
  }

  test("splitAssign covers every key exactly once, near target proportions") {
    import spark.implicits._
    val df = (1L to 5000L).toDF("k")
    val splits = Seq(("train", 0.8), ("valid", 0.1), ("test", 0.1))
    val assigned = df.select(col("k"),
      Sampling.splitAssign(col("k"), splits).as("split"))
    val counts = assigned.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == 5000L)  // exhaustive and exclusive
    assert(math.abs(counts("train") / 5000.0 - 0.8) < 0.03, counts)
    assert(math.abs(counts("valid") / 5000.0 - 0.1) < 0.03, counts)
    assert(math.abs(counts("test") / 5000.0 - 0.1) < 0.03, counts)
    // stability: re-evaluating yields the identical assignment
    val a1 = assigned.collect().map(r => (r.getLong(0), r.getString(1))).toMap
    val a2 = df.select(col("k"), Sampling.splitAssign(col("k"), splits).as("s"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(a1 == a2)
  }

  test("budgetSelect takes the exact md5-order prefix within budget") {
    import spark.implicits._
    val docs = (1L to 200L).map(i => (i, 10L + i % 7)).toDF("doc_id", "n")
    val out = Sampling.budgetSelect(docs, "doc_id", "n", budgetTokens = 600L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3)))
    // replay the contract independently: sort by md5(id), accumulate,
    // cut at the budget
    val expected = (1L to 200L).map { i =>
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      (i, 10L + i % 7, md5)
    }.sortBy(_._3)
      .scanLeft((0L, 0L, "", 0L)) { case ((_, _, _, cum), (id, n, k)) =>
        (id, n, k, cum + n) }
      .tail.takeWhile(_._4 <= 600L)
    assert(out.sortBy(_._3).toSeq == expected)
    // selected set is a PREFIX of the shuffle order: every kept key
    // sorts below every dropped key
    val keptMax = out.map(_._3).max
    val dropped = docs.join(Sampling.budgetSelect(docs, "doc_id", "n", 600L)
        .select("doc_id"), Seq("doc_id"), "left_anti")
      .select(md5(col("doc_id").cast("string"))).collect().map(_.getString(0))
    assert(dropped.forall(_ > keptMax))
    // re-runs under different partitioning reselect identically
    val again = Sampling.budgetSelect(docs.repartition(7), "doc_id", "n", 600L)
      .collect().map(r => r.getLong(0)).sorted
    assert(again.toSeq == out.map(_._1).sorted.toSeq)
  }

  test("capPerKey: exact cap via md5 order; under-cap keys bypass whole") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // one dominating key (40 docs), two small keys (3 and 1)
    val rows = ((1L to 40L).map(i => (i, "big")) ++
      Seq((100L, "s1"), (101L, "s1"), (102L, "s1"), (200L, "s2")))
      .toDF("doc_id", "host").repartition(5)
    val out = graft.functions.Sampling.capPerKey(rows, "doc_id", "host", 10)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // under-cap keys keep every row with their true count attached
    assert(out.count(_._2 == "s1") == 3 && out.count(_._2 == "s2") == 1)
    assert(out.filter(_._2 == "s1").forall(_._3 == 3L))
    // the dominating key keeps EXACTLY cap rows — the 10 smallest
    // md5(id), matching a driver-side replay of the same order
    val bigKept = out.filter(_._2 == "big").map(_._1).toSet
    assert(bigKept.size == 10)
    val expect = (1L to 40L)
      .sortBy(i => (java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes).map("%02x".format(_)).mkString
        .take(8), i))
      .take(10).toSet
    assert(bigKept == expect)
    // deterministic across partitionings
    val again = graft.functions.Sampling
      .capPerKey(rows.repartition(2), "doc_id", "host", 10)
      .filter(col("host") === "big")
      .collect().map(_.getLong(0)).toSet
    assert(again == expect)
  }

  test("capPerKey: NULL keys get their own window; a real ' ' key never " +
      "merges with them; NULL-id rows of under-cap keys all survive") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 15 NULL-key docs and 15 docs whose key IS the single-space string —
    // both over cap 10; a shared sentinel would merge them into one
    // 30-row window keeping 10 total instead of 10 each
    val rows = ((1L to 15L).map(i => (i, Option.empty[String])) ++
      (101L to 115L).map(i => (i, Some(" "))))
      .toDF("doc_id", "host").repartition(3)
    val out = Sampling.capPerKey(rows, "doc_id", "host", 10)
      .collect().map(r => (r.getLong(0), Option(r.getString(1))))
    assert(out.count(_._2.isEmpty) == 10, "NULL-key group keeps cap rows")
    assert(out.count(_._2.contains(" ")) == 10, "' '-key group keeps cap rows")
    // NULL-id rows: three under-cap keys, each with two NULL-id docs —
    // a shared NULL synthetic partition would rank the later keys' rows
    // past cap=2 and drop them even though every key is under cap
    val nid = (Seq(("a", Some(1L)), ("a", None), ("a", None),
      ("b", Some(2L)), ("b", None), ("b", None),
      ("c", Some(3L)), ("c", None), ("c", None)))
      .toDF("host", "doc_id").repartition(4)
    val kept = Sampling.capPerKey(nid, "doc_id", "host", 2)
    // cap 2 < 3 docs per key → over-cap: each key keeps exactly 2
    assert(kept.groupBy("host").count().collect()
      .forall(_.getLong(1) == 2L))
    val under = Sampling.capPerKey(nid, "doc_id", "host", 5)
    assert(under.count() == 9, "under-cap keys keep ALL rows incl. NULL ids")
  }

  test("split membership is insertion-stable: adding rows never moves one") {
    import spark.implicits._
    val splits = Seq(("train", 0.8), ("valid", 0.1), ("test", 0.1))
    def assign(n: Long) = (1L to n).toDF("k")
      .select(col("k"), Sampling.splitAssign(col("k"), splits).as("s"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    val small = assign(500); val big = assign(1500)
    small.foreach { case (k, s) => assert(big(k) == s, s"key $k moved") }
  }
}
