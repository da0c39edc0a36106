package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Packing

/** The distributed prefix sum and the concat-and-chunk packing layout:
  * exactness vs a sequential scan, null handling, boundary-crossing
  * sequence indices, and the no-single-task-window scale shape.
  */
class PackingSpec extends AnyFunSuite with SparkSuite {

  override def withFixture(test: NoArgTest) =
    withConf("spark.sql.shuffle.partitions" -> "8")(super.withFixture(test))

  /** AQE coalesces tiny range shuffles to one partition, which would let
    * the cross-partition offset path go untested on micro-data — pin it
    * off for the duration of `body`. */
  private def withoutCoalesce[T](body: => T): T =
    withConf("spark.sql.adaptive.coalescePartitions.enabled" -> "false")(body)

  test("prefixSum matches a sequential scan across many partitions") {
    import spark.implicits._
    withoutCoalesce {
      // adversarial arrival order + enough rows to span all 8 range parts
      val rng = new scala.util.Random(42)
      val rows = rng.shuffle((1L to 500L).toList).map(k => (k, (k % 97) + 1))
      val df = rows.toDF("k", "v").repartition(7)
      val out = Packing.prefixSum(df, "k", "v", "cum")
      assert(out.rdd.getNumPartitions > 1) // the offsets path IS exercised
      val got = out.select("k", "cum").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      var acc = 0L
      (1L to 500L).foreach { k =>
        acc += (k % 97) + 1
        assert(got(k) == acc, s"k=$k")
      }
    }
  }

  test("prefixSum counts null values as zero") {
    import spark.implicits._
    val df = Seq((1L, Some(5L)), (2L, None), (3L, Some(7L)))
      .toDF("k", "v")
    val got = Packing.prefixSum(df, "k", "v", "cum")
      .orderBy("k").select("cum").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(5L, 5L, 12L))
  }

  test("packChunks marks boundary-crossing documents") {
    import spark.implicits._
    // ctx=10: doc 1 [0,4), doc 2 [4,12) crosses seq 0->1, doc 3 [12,20)
    // ends exactly on a boundary, doc 4 [20,21) starts a new sequence
    val df = Seq((1L, 4), (2L, 8), (3L, 8), (4L, 1)).toDF("doc", "n")
    val got = Packing.packChunks(df, "doc", "n", ctx = 10)
      .orderBy("doc")
      .select("start_off", "first_seq", "last_seq", "n_seqs")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (0L, 0L, 0L, 1L),
      (4L, 0L, 1L, 2L),
      (12L, 1L, 1L, 1L),
      (20L, 2L, 2L, 1L)))
  }

  test("zero-token documents occupy no sequence, anywhere in the stream") {
    import spark.implicits._
    // doc 1 empty at offset 0 (the div(-1) corner), doc 3 empty at a
    // ctx-aligned offset — both must report n_seqs = 0
    val df = Seq((1L, 0L), (2L, 512L), (3L, 0L), (4L, 100L))
      .toDF("doc_id", "n")
    val got = Packing.packChunks(df, "doc_id", "n", ctx = 512)
      .orderBy("doc_id")
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("n_seqs")).toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 0L, 4L -> 1L))
  }

  test("prefixSum plans no single-task global window") {
    import spark.implicits._
    withoutCoalesce {
      val df = (1L to 100L).map(k => (k, 1L)).toDF("k", "v")
      val out = Packing.prefixSum(df, "k", "v", "cum")
      // the scan distributes: more than one partition carries rows
      assert(out.rdd.getNumPartitions > 1)
      val plan = out.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"), s"unexpected window operator:\n$plan")
    }
  }
}
