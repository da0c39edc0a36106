package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Dedup

/** Alternating large-star/small-star connected components: correctness on
  * adversarial shapes AND the O(log) round bound that motivated replacing
  * min-label propagation (a k-chain needed k rounds there).
  */
class ConnectedComponentsSpec extends AnyFunSuite with SparkSuite {

  /** Driver-side union-find ground truth. */
  private def truth(n: Seq[Long], es: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(n.map(i => i -> i): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    n.map(i => i -> find(i)).toMap
  }

  test("50-node chain converges in O(log k) rounds, not O(k)") {
    import spark.implicits._
    val ids = (1L to 50L).toDF("doc_id")
    val edges = (1L to 49L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (labels, rounds) = Dedup.ccAlternating(edges, ids, "doc_id")
    val got = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert((1L to 50L).forall(got(_) == 1L), got.toString)
    // log2(50) ~ 5.6; the paper's alternation adds a small constant —
    // anything near 50 means the star contraction regressed to
    // per-hop propagation
    assert(rounds <= 10, s"50-chain took $rounds rounds")
  }

  test("mixed graph (cliques, bridges, chain, singletons) matches union-find") {
    import spark.implicits._
    val ids = (1L to 40L)
    val es = // clique 1-5
      (for { a <- 1L to 5L; b <- (a + 1) to 5L } yield (a, b)) ++
        // chain 10..20
        (10L to 19L).map(i => (i, i + 1)) ++
        // two pairs bridged through a hub
        Seq((25L, 26L), (27L, 28L), (26L, 27L)) ++
        // self-loop and duplicate edges must be harmless
        Seq((30L, 30L), (31L, 32L), (32L, 31L), (31L, 32L))
    val (labels, rounds) = Dedup.ccAlternating(
      es.toDF("id_a", "id_b"), ids.toDF("doc_id"), "doc_id")
    val got = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val want = truth(ids, es)
    assert(got == want, s"diff: ${got.toSet.diff(want.toSet)}")
    assert(rounds <= 8, s"took $rounds rounds")
  }

  test("no edges: zero rounds, every node labels itself") {
    import spark.implicits._
    val ids = Seq(3L, 7L, 9L).toDF("doc_id")
    val edges = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val (labels, rounds) = Dedup.ccAlternating(edges, ids, "doc_id")
    assert(rounds == 0)
    assert(labels.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((3L, 3L), (7L, 7L), (9L, 9L)))
  }

  test("reliable checkpointDir option: same labels, cuts land in the store") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cc-ckpt").toString
    val ids = (0L to 20L).toDF("doc_id")
    val es = (0L until 20L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (local, _) = Dedup.ccAlternating(es, ids, "doc_id")
    val (reliable, _) = Dedup.ccAlternating(es, ids, "doc_id", Some(dir))
    assert(local.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      reliable.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    // the reliable path must actually have written checkpoint data
    def anyFile(f: java.io.File): Boolean =
      f.isFile || Option(f.listFiles).exists(_.exists(anyFile))
    assert(anyFile(new java.io.File(dir)), s"no checkpoint data under $dir")
  }
}
