package graft

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.IcebergLite

/** Iceberg metadata walk against a spec-shaped fixture table. */
class IcebergLiteSpec extends AnyFunSuite with SparkSuite {

  private val manifestEntrySchema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_entry","fields":[
      |{"name":"status","type":"int"},
      |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
      |  {"name":"content","type":["null","int"],"default":null},
      |  {"name":"file_path","type":"string"},
      |  {"name":"file_format","type":"string"}]}}]}""".stripMargin)

  private val manifestFileSchema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string"},
      |{"name":"content","type":["null","int"],"default":null}]}""".stripMargin)

  private def writeAvro(path: String, schema: Schema,
      records: Seq[GenericRecord]): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, f)
    try records.foreach(w.append) finally w.close()
  }

  private def entry(status: Int, filePath: String): GenericRecord = {
    val df = new GenericData.Record(manifestEntrySchema.getField("data_file").schema())
    df.put("content", 0)
    df.put("file_path", filePath)
    df.put("file_format", "PARQUET")
    val e = new GenericData.Record(manifestEntrySchema)
    e.put("status", status)
    e.put("data_file", df)
    e
  }

  private def manifestFile(path: String): GenericRecord = {
    val m = new GenericData.Record(manifestFileSchema)
    m.put("manifest_path", path)
    m.put("content", 0)
    m
  }

  test("metadata walk: added files read, deleted files dropped") {
    import spark.implicits._
    val t = "/tmp/graft-test/iceberg1"
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(t), true)

    // two single-file parquet data sets
    Seq((1, "a")).toDF("id", "v").coalesce(1).write.parquet(s"$t/data/d1")
    Seq((2, "b")).toDF("id", "v").coalesce(1).write.parquet(s"$t/data/d2")
    def firstParquet(dir: String): String =
      fs.listStatus(new org.apache.hadoop.fs.Path(dir))
        .map(_.getPath.toString).filter(_.endsWith(".parquet")).head
    val (f1, f2) = (firstParquet(s"$t/data/d1"), firstParquet(s"$t/data/d2"))

    // manifest 1 adds both; manifest 2 deletes f1
    writeAvro(s"$t/metadata/m1.avro", manifestEntrySchema,
      Seq(entry(1, f1), entry(1, f2)))
    writeAvro(s"$t/metadata/m2.avro", manifestEntrySchema,
      Seq(entry(2, f1)))
    writeAvro(s"$t/metadata/snap-1.avro", manifestFileSchema,
      Seq(manifestFile(s"$t/metadata/m1.avro"),
        manifestFile(s"$t/metadata/m2.avro")))

    val meta = s"""{"format-version":1,"current-snapshot-id":99,
      "snapshots":[{"snapshot-id":99,"manifest-list":"$t/metadata/snap-1.avro"}]}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$t/metadata/v1.metadata.json"), meta)

    val out = IcebergLite.read(spark, t).orderBy("id").collect()
    assert(out.map(_.getInt(0)).toSeq == Seq(2)) // f1 deleted, only f2 lives
  }

  test("newest vN.metadata.json wins; delete files rejected") {
    import spark.implicits._
    val t = "/tmp/graft-test/iceberg2"
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(t), true)
    Seq((7, "x")).toDF("id", "v").coalesce(1).write.parquet(s"$t/data/d1")
    val f1 = fs.listStatus(new org.apache.hadoop.fs.Path(s"$t/data/d1"))
      .map(_.getPath.toString).filter(_.endsWith(".parquet")).head

    writeAvro(s"$t/metadata/m1.avro", manifestEntrySchema, Seq(entry(1, f1)))
    writeAvro(s"$t/metadata/snap-1.avro", manifestFileSchema,
      Seq(manifestFile(s"$t/metadata/m1.avro")))
    // v1 points at a bogus snapshot; v2 is the good one — v2 must win
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$t/metadata/v1.metadata.json"),
      s"""{"current-snapshot-id":1,"snapshots":[]}""")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$t/metadata/v2.metadata.json"),
      s"""{"current-snapshot-id":5,
        "snapshots":[{"snapshot-id":5,"manifest-list":"$t/metadata/snap-1.avro"}]}""")
    assert(IcebergLite.read(spark, t).collect().map(_.getInt(0)).toSeq == Seq(7))

    // hand-built v2 snapshot: a position-delete parquet (file_path, pos)
    // referencing f1 row 0 — the row must disappear from the read
    Seq((f1, 0L)).toDF("file_path", "pos").coalesce(1)
      .write.parquet(s"$t/deletes/pos")
    val pf = fs.listStatus(new org.apache.hadoop.fs.Path(s"$t/deletes/pos"))
      .map(_.getPath.toString).filter(_.endsWith(".parquet")).head
    val del = entry(1, pf)
    del.get("data_file").asInstanceOf[GenericRecord].put("content", 1)
    writeAvro(s"$t/metadata/m2.avro", manifestEntrySchema, Seq(entry(1, f1), del))
    writeAvro(s"$t/metadata/snap-2.avro", manifestFileSchema,
      Seq(manifestFile(s"$t/metadata/m2.avro")))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$t/metadata/v3.metadata.json"),
      s"""{"current-snapshot-id":6,
        "snapshots":[{"snapshot-id":6,"manifest-list":"$t/metadata/snap-2.avro"}]}""")
    assert(IcebergLite.read(spark, t).count() == 0)
  }

  test("time and uuid columns round-trip through the snapshot writer") {
    // iceberg `time` = micros since midnight → Spark 4.1 TIME(6); `uuid`
    // reads as string (Spark has no UUID type; reference issue cli id=250).
    // TIME is feature-flagged in Spark 4.1 — enable it for this scope
    withConf("spark.sql.timeType.enabled" -> "true") {
      val t = "/tmp/graft-test/iceberg_time_uuid"
      val df = spark.sql(
        """select id,
          |  cast(concat('12:30:0', id) as time(6)) as t_of_day,
          |  uuid() as u from range(5)""".stripMargin)
        .select("id", "t_of_day", "u")
      IcebergLite.writeSnapshot(df, t,
        fieldIds = Some(Seq((1, "id"), (2, "t_of_day"), (3, "u"))))
      val back = IcebergLite.read(spark, t)
      assert(back.schema("t_of_day").dataType ==
        org.apache.spark.sql.types.TimeType(6))
      val got = back.orderBy("id").collect()
      assert(got.length == 5)
      assert(got(2).get(1).toString == "12:30:02")
      assert(got.forall(_.getString(2).matches(
        "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")))
    }
  }

  test("v2 delete snapshot: position and equality deletes apply on read") {
    import spark.implicits._
    val t = "/tmp/graft-test/iceberg3"
    val df = (1 to 100).map(i => (i.toLong, if (i % 2 == 0) "even" else "odd"))
      .toDF("id", "tag")
    IcebergLite.writeSnapshot(df, t)
    // sanity: v1 read sees everything
    assert(IcebergLite.read(spark, t).count() == 100)
    // position-delete ids 1..10 (resolved to real file/pos pairs),
    // equality-delete every tag='even' row
    val pos = spark.read.parquet(s"$t/data")
      .select(org.apache.spark.sql.functions.col("_metadata.file_path").as("file_path"),
        org.apache.spark.sql.functions.col("_metadata.row_index").as("pos"),
        org.apache.spark.sql.functions.col("id"))
      .filter("id <= 10").select("file_path", "pos")
    val eq = Seq("even").toDF("tag")
    IcebergLite.appendDeletes(t, Some(pos), Some(eq))
    val got = IcebergLite.read(spark, t).select("id").as[Long].collect().sorted
    assert(got.toSeq == (11L to 100L).filter(_ % 2 == 1))
    // equality-only table: no __pos plumbing needed
    val t2 = "/tmp/graft-test/iceberg4"
    IcebergLite.writeSnapshot(df, t2)
    IcebergLite.appendDeletes(t2, None, Some(Seq("odd").toDF("tag")))
    assert(IcebergLite.read(spark, t2).count() == 50)
  }

  test("table path with a space: deletes still apply " +
      "(_metadata.file_path is percent-encoded)") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val t = "/tmp/graft-test/ice space tbl"
    new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(t), true)
    val df = (1 to 40).map(i => (i.toLong, if (i % 2 == 0) "even" else "odd"))
      .toDF("id", "tag")
    IcebergLite.writeSnapshot(df, t)
    assert(IcebergLite.read(spark, t).count() == 40)
    val pos = spark.read.parquet(s"$t/data")
      .select(col("_metadata.file_path").as("file_path"),
        col("_metadata.row_index").as("pos"), col("id"))
      .filter("id <= 5").select("file_path", "pos")
    IcebergLite.appendDeletes(t, Some(pos), Some(Seq("even").toDF("tag")))
    // the seq-scoping broadcast keys must join the encoded URI form, or
    // __dseq goes null and the anti-joins silently keep deleted rows
    val got = IcebergLite.read(spark, t).select("id").as[Long].collect().sorted
    assert(got.toSeq == (6L to 40L).filter(_ % 2 == 1))
  }

  test("sequence scoping: data appended after a delete file survives it") {
    import spark.implicits._
    val t = "/tmp/graft-test/iceberg_seq"
    val df = (1 to 50).map(i => (i.toLong, if (i % 2 == 0) "even" else "odd"))
      .toDF("id", "tag")
    IcebergLite.writeSnapshot(df, t)                               // seq 1
    IcebergLite.appendDeletes(t, None, Some(Seq("even").toDF("tag"))) // seq 2
    // rows 51..60 are all 'even' but arrive AFTER the delete → must survive
    val late = (51 to 60).map(i => (i.toLong, "even")).toDF("id", "tag")
    IcebergLite.appendData(late, t)                                // seq 3
    val got = IcebergLite.read(spark, t).select("id").as[Long].collect().sorted
    assert(got.toSeq == (1L to 50L).filter(_ % 2 == 1) ++ (51L to 60L))
    // a second delete AFTER the append still catches the late rows
    IcebergLite.appendDeletes(t, None, Some(Seq("even").toDF("tag"))) // seq 4
    val got2 = IcebergLite.read(spark, t).select("id").as[Long].collect().sorted
    assert(got2.toSeq == (1L to 50L).filter(_ % 2 == 1))
  }

  test("heterogeneous equality-delete schemas anti-join per column set") {
    import spark.implicits._
    val t = "/tmp/graft-test/iceberg_eqmix"
    val df = Seq((1L, "a"), (2L, "b"), (3L, null.asInstanceOf[String]))
      .toDF("id", "tag")
    IcebergLite.writeSnapshot(df, t)
    // one delete file keyed on id, a later one keyed on tag: with a single
    // NULL-filled scan the (id) file's NULL tag would over-match row 3
    IcebergLite.appendDeletes(t, None, Some(Seq(1L).toDF("id")))
    IcebergLite.appendDeletes(t, None, Some(Seq("b").toDF("tag")))
    val got = IcebergLite.read(spark, t).select("id").as[Long].collect().sorted
    assert(got.toSeq == Seq(3L))
  }

  test("moved table re-anchors stale absolute paths (allow_moved_paths)") {
    import spark.implicits._
    import org.apache.hadoop.fs.{FileUtil, Path}
    val orig = "/tmp/graft-test/iceberg_moved_orig"
    val moved = "/tmp/graft-test/iceberg_moved_new"
    val df = (1L to 40L).map(i => (i, s"v$i")).toDF("id", "tag")
    IcebergLite.writeSnapshot(df, orig)
    // position delete recorded against the ORIGINAL data-file paths
    val pos = spark.read.parquet(orig + "/data")
      .select(org.apache.spark.sql.functions.col("_metadata.file_path").as("file_path"),
        org.apache.spark.sql.functions.col("_metadata.row_index").as("pos"),
        org.apache.spark.sql.functions.col("id"))
      .filter($"id" % 4 === 0).select("file_path", "pos")
    IcebergLite.appendDeletes(orig, Some(pos), None)
    // appended data lands in a data-N dir — its paths must re-anchor too
    IcebergLite.appendData((41L to 44L).map(i => (i, s"v$i")).toDF("id", "tag"), orig)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(orig).getFileSystem(conf)
    fs.delete(new Path(moved), true)
    FileUtil.copy(fs, new Path(orig), fs, new Path(moved), true, conf)
    assert(!fs.exists(new Path(orig))) // stale paths must NOT resolve
    val got = IcebergLite.read(spark, moved).select("id").as[Long].collect().sorted
    assert(got.toSeq == (1L to 44L).filterNot(i => i <= 40 && i % 4 == 0))
  }

  test("schema evolution: renamed column resolves by parquet field id") {
    import spark.implicits._
    val t = "/tmp/graft-test/iceberg_rename"
    // write-time column name is old_tag; the current schema calls it
    // new_tag under the same field id — spec-correct readers must follow
    // the id, not the name in the data files
    val df = (1L to 30L).map(i => (i, s"v$i")).toDF("id", "old_tag")
    IcebergLite.writeSnapshot(df, t, fieldIds = Some(Seq(1 -> "id", 2 -> "new_tag")))
    val got = IcebergLite.read(spark, t)
    assert(got.columns.toSeq == Seq("id", "new_tag"))
    assert(got.orderBy("id").collect()(4) ==
      org.apache.spark.sql.Row(5L, "v5"))
    // equality deletes keyed on the CURRENT (renamed) column still apply
    IcebergLite.appendDeletes(t, None, Some(Seq("v7").toDF("new_tag")))
    val after = IcebergLite.read(spark, t).select("id").as[Long].collect().sorted
    assert(after.toSeq == (1L to 30L).filterNot(_ == 7L))
  }

  test("equality delete with NULL key matches NULL rows (spec semantics)") {
    import spark.implicits._
    val t = "/tmp/graft-test/iceberg5"
    val df = Seq((1L, "a"), (2L, null.asInstanceOf[String]), (3L, "b"),
      (4L, null.asInstanceOf[String])).toDF("id", "tag")
    IcebergLite.writeSnapshot(df, t)
    // delete every row whose tag IS NULL — SQL anti-join would match none
    IcebergLite.appendDeletes(t, None,
      Some(Seq(null.asInstanceOf[String]).toDF("tag")))
    val got = IcebergLite.read(spark, t).select("id").as[Long].collect().sorted
    assert(got.toSeq == Seq(1L, 3L))
  }

  test("distributed manifest walk returns the same snapshot as the driver walk") {
    import spark.implicits._
    val t = "/tmp/graft-test/iceberg_dist"
    val df = (1L to 60L).map(i => (i, s"v$i")).toDF("id", "tag")
    // range partitioning → disjoint per-file id bounds, so "id <= 15" can
    // actually prune files in the executor-side walk below
    IcebergLite.writeSnapshot(df.repartitionByRange(4, $"id"), t,
      collectStats = true)
    IcebergLite.appendDeletes(t, None, Some(Seq(7L, 8L).toDF("id")))
    val driver = IcebergLite.read(spark, t).select("id").as[Long].collect().sorted
    spark.conf.set(IcebergLite.PlanThresholdKey, "1")
    try {
      val dist = IcebergLite.read(spark, t).select("id").as[Long].collect().sorted
      assert(dist.toSeq == driver.toSeq && dist.length == 58)
      val (kept, total) = IcebergLite.pruneCount(spark, t, "id <= 15")
      assert(kept < total, s"expected executor-side pruning, kept $kept/$total")
      val got = IcebergLite.readWhere(spark, t, "id <= 15")
        .select("id").as[Long].collect().sorted
      assert(got.toSeq == (1L to 15L).filterNot(Set(7L, 8L)))
    } finally spark.conf.unset(IcebergLite.PlanThresholdKey)
  }

  test("manifest-list partition summaries prune manifests without opening them") {
    import spark.implicits._
    val t = "/tmp/graft-test/iceberg_summary"
    val df = (1L to 20L).map(i => (i, s"v$i")).toDF("id", "tag")
    IcebergLite.writeSnapshot(df, t, collectStats = true)
    val lt = org.apache.spark.sql.types.LongType
    def b(v: Long) = IcebergLite.boundBytes(v, lt)
    // ref-only manifest: the manifest file does NOT exist, so the scan can
    // only succeed if the summary ([5000, 6000], no nulls) is pruned at the
    // manifest-LIST level
    IcebergLite.appendSyntheticManifests(spark, t,
      Seq(IcebergLite.SyntheticManifest(None, Some(IcebergLite.ManifestSummary(
        0, Seq((false, b(5000L), b(6000L))), 42)))),
      partitionSpecsJson = Some(
        """[{"spec-id":0,"fields":[{"name":"id","transform":"identity",""" +
          """"source-id":1,"field-id":1000}]}]"""))
    val (kept, total) = IcebergLite.pruneCount(spark, t, "id <= 10")
    assert(total >= 42 + kept, s"list-pruned manifest file count missing: $kept/$total")
    val got = IcebergLite.readWhere(spark, t, "id <= 10")
      .select("id").as[Long].collect().sorted
    assert(got.toSeq == (1L to 10L))
    // a predicate the summary may match MUST open the manifest → the
    // missing file fails the scan, proving the fixture actually bites
    intercept[Exception] {
      IcebergLite.readWhere(spark, t, "id >= 5500").collect()
    }
    // IS NULL prunes via contains_null=false
    val gotNull = IcebergLite.readWhere(spark, t, "id IS NULL").collect()
    assert(gotNull.isEmpty)
  }
}
