package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStream
import graft.streaming.EventStream.CdcRunOptions
import graft.write.ParquetTarget

/** Bounded streaming CDC runs: the reference's CDCOptions
  * (replay_from / run_max_events / run_max_duration,
  * core/sling/config.go:1764-1794) and target batching knobs
  * (batch_limit / batch_max_duration, config.go:1737-1738) routed into
  * Structured Streaming foreachBatch applies.
  */
class BoundedCdcSpec extends AnyFunSuite with SparkSuite {

  private def freshDir(name: String): String = {
    val p = s"/tmp/graft-test/$name"
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(p), true)
    p
  }

  /** A change feed of `files` parquet files x `perFile` upsert events each,
    * seq increasing across files (file i holds seqs [i*perFile+1 ..
    * (i+1)*perFile]). Event seq s upserts id (s % ids) with v = s. */
  private def writeFeed(dir: String, files: Int, perFile: Int,
      ids: Int): Unit = {
    import spark.implicits._
    (0 until files).foreach { i =>
      val rows = (1 to perFile).map { j =>
        val seq = (i * perFile + j).toLong
        (seq % ids, s"v$seq", "U", seq)
      }
      rows.toDF("id", "v", "_sling_synced_op", "_sling_cdc_seq")
        .coalesce(1).write.mode("append").parquet(dir)
      // FileStreamSource orders micro-batches by modification time; keep
      // the file timestamps strictly increasing so batch order == seq order
      Thread.sleep(15)
    }
  }

  private def seedTarget(root: String, ids: Int): ParquetTarget = {
    import spark.implicits._
    val t = ParquetTarget(spark, s"$root/target")
    graft.write.Modes.fullRefresh(t,
      (0L until ids.toLong).map(i => (i, "init", "I", 0L))
        .toDF("id", "v", "_sling_synced_op", "_sling_cdc_seq"))
    t
  }

  test("run_max_events stops the run after exactly N events") {
    val root = freshDir("cdc_bound_maxev")
    writeFeed(s"$root/cdc", files = 10, perFile = 10, ids = 5)
    val t = seedTarget(root, 5)
    val (applied, _) = EventStream.cdcApplyBounded(spark, s"$root/cdc", t,
      Seq("id"), CdcRunOptions(runMaxEvents = Some(25L)))
    assert(applied == 25L, s"applied $applied")
    // events are applied in seq order per batch, so the run covers seqs
    // 1..25 exactly: the latest event per id is the max applied seq
    val got = t.read.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(got.values.max == 25L)
  }

  test("run_max_duration of zero applies no batch") {
    val root = freshDir("cdc_bound_maxdur")
    writeFeed(s"$root/cdc", files = 3, perFile = 10, ids = 5)
    val t = seedTarget(root, 5)
    val (applied, commits) = EventStream.cdcApplyBounded(spark, s"$root/cdc", t,
      Seq("id"),
      CdcRunOptions(runMaxDuration = Some(java.time.Duration.ZERO)))
    assert(applied == 0L && commits == 0L, s"applied $applied commits $commits")
    assert(t.read.filter(col("v") =!= "init").count() == 0)
  }

  test("batch_limit commits in chunks of at most N events") {
    val root = freshDir("cdc_bound_batchlim")
    // one file of 100 events -> one micro-batch -> ceil(100/30)=4 commits
    writeFeed(s"$root/cdc", files = 1, perFile = 100, ids = 7)
    val t = seedTarget(root, 7)
    val (applied, commits) = EventStream.cdcApplyBounded(spark, s"$root/cdc", t,
      Seq("id"), CdcRunOptions(batchLimit = Some(30)))
    assert(applied == 100L && commits == 4L, s"applied $applied commits $commits")
    // final state identical to an unchunked apply: latest seq per id
    val got = t.read.collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    (0L until 7L).foreach { id =>
      val want = (1L to 100L).filter(_ % 7 == id).max
      assert(got(id) == want, s"id $id: got ${got(id)} want $want")
    }
  }

  test("replay_from skips events below the restart seq") {
    val root = freshDir("cdc_bound_replay")
    writeFeed(s"$root/cdc", files = 4, perFile = 10, ids = 5)
    val t = seedTarget(root, 5)
    val (applied, _) = EventStream.cdcApplyBounded(spark, s"$root/cdc", t,
      Seq("id"), CdcRunOptions(replayFromSeq = Some(31L)))
    assert(applied == 10L, s"applied $applied")
    val got = t.read.collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    // ids untouched by seqs 31..40 keep their seed seq 0
    (0L until 5L).foreach { id =>
      val want = (31L to 40L).filter(_ % 5 == id) match {
        case s if s.nonEmpty => s.max
        case _ => 0L
      }
      assert(got(id) == want, s"id $id: got ${got(id)} want $want")
    }
  }

  test("batch_max_duration routes to a processing-time trigger and still " +
      "drains all available input") {
    val root = freshDir("cdc_bound_cadence")
    writeFeed(s"$root/cdc", files = 3, perFile = 10, ids = 5)
    val t = seedTarget(root, 5)
    val (applied, commits) = EventStream.cdcApplyBounded(spark, s"$root/cdc", t,
      Seq("id"),
      CdcRunOptions(batchMaxDuration = Some(java.time.Duration.ofMillis(50))))
    assert(applied == 30L && commits == 3L, s"applied $applied commits $commits")
  }

  test("cdc apply merges into a DB target (merge_cdc on Derby)") {
    import spark.implicits._
    val u = "jdbc:derby:memory:cdc_db_tgt;create=true"
    val types = Map("v" -> "VARCHAR(20)")
    // first apply on an absent target: creates it from the upserts only
    val batch1 = Seq(
      (1L, "a", "I", 1L), (2L, "b", "I", 2L), (3L, "c", "I", 3L),
      (2L, "b2", "U", 4L), (3L, "c", "D", 5L))
      .toDF("id", "v", "_sling_synced_op", "_sling_cdc_seq")
    graft.sources.Jdbc.cdcApply(batch1, u, "CDC_T", Seq("id"), types)
    def rows(): Seq[(Long, String)] =
      spark.read.format("jdbc").option("url", u).option("dbtable", "CDC_T")
        .load().orderBy("id").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
    // id=3's latest event is D → never lands; id=2 takes its latest U
    assert(rows() == Seq((1L, "a"), (2L, "b2")))
    // second apply against the existing target: D deletes, U updates, I inserts
    val batch2 = Seq(
      (1L, "a", "D", 6L), (2L, "b3", "U", 7L), (4L, "d", "I", 8L))
      .toDF("id", "v", "_sling_synced_op", "_sling_cdc_seq")
    graft.sources.Jdbc.cdcApply(batch2, u, "CDC_T", Seq("id"), types)
    assert(rows() == Seq((2L, "b3"), (4L, "d")))
    // stage is gone, and re-applying the same batch is idempotent
    assert(!graft.sources.Jdbc.tableExists(u, "CDC_T_CDCSTAGE"))
    graft.sources.Jdbc.cdcApply(batch2, u, "CDC_T", Seq("id"), types)
    assert(rows() == Seq((2L, "b3"), (4L, "d")))
  }

  test("mode cdc-apply routes to the DB merge from task YAML") {
    import spark.implicits._
    val u = "jdbc:derby:memory:cdc_db_yaml;create=true"
    val root = freshDir("cdc_db_yaml_src")
    Seq((1L, "x", "I", 1L), (2L, "y", "I", 2L), (1L, "x2", "U", 3L))
      .toDF("id", "v", "_sling_synced_op", "_sling_cdc_seq")
      .write.mode("overwrite").parquet(s"$root/cdc")
    val yaml =
      s"""source:
         |  stream: "$root/cdc"
         |  format: parquet
         |connections:
         |  DB: { type: derby, instance: "memory:cdc_db_yaml" }
         |columns:
         |  v: string(20)
         |target:
         |  conn: DB
         |  object: CDC_Y
         |  mode: cdc-apply
         |  primary_key: [id]
         |""".stripMargin
    graft.repl.TaskConfig.run(spark, yaml, "/root/testdata/sf0.001")
    val got = spark.read.format("jdbc").option("url", u)
      .option("dbtable", "CDC_Y").load().orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "x2"), (2L, "y")))
  }

  test("knobs route end-to-end from task YAML (mode: cdc)") {
    val root = freshDir("cdc_bound_yaml")
    writeFeed(s"$root/cdc", files = 5, perFile = 10, ids = 5)
    seedTarget(root, 5)
    val yaml =
      s"""source:
         |  stream: "$root/cdc"
         |  format: parquet
         |  options:
         |    cdc:
         |      replay_from: 11
         |      run_max_events: 20
         |      run_max_duration: 10m
         |target:
         |  object: "$root/target"
         |  format: parquet
         |  mode: cdc
         |  primary_key: [id]
         |  options:
         |    batch_limit: 7
         |""".stripMargin
    graft.repl.TaskConfig.run(spark, yaml, "/root/testdata/sf0.001")
    val got = spark.read.parquet(s"$root/target").collect()
      .map(r => (r.getLong(0), r.getLong(3))).toMap
    // replay starts at seq 11, run caps at 20 events -> seqs 11..30 applied
    assert(got.values.max == 30L, s"max seq ${got.values.max}")
    (0L until 5L).foreach { id =>
      val want = (11L to 30L).filter(_ % 5 == id).max
      assert(got(id) == want, s"id $id: got ${got(id)} want $want")
    }
  }

  test("a failing apply fails the run (not silent partial counts)") {
    val root = freshDir("cdc_bound_fail")
    writeFeed(s"$root/cdc", files = 3, perFile = 10, ids = 5)
    val t = seedTarget(root, 5)
    // primary key that doesn't exist in the feed -> the merge inside
    // foreachBatch throws; the run must rethrow, not return (0, 0)
    val e = intercept[Exception] {
      EventStream.cdcApplyBounded(spark, s"$root/cdc", t,
        Seq("no_such_pk"), CdcRunOptions())
    }
    assert(e != null)
  }
}
