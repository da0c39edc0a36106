package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.DeltaLite

/** Delta transaction-log replay + single-writer commits (protocol v1). */
class DeltaLiteSpec extends AnyFunSuite with SparkSuite {

  private def freshDir(name: String): String = {
    val p = s"/tmp/graft-test/$name"
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(p), true)
    p
  }

  test("append commits accumulate; overwrite swaps the snapshot") {
    import spark.implicits._
    val t = freshDir("delta1")
    DeltaLite.append(Seq((1, "a"), (2, "b")).toDF("id", "v"), t)
    DeltaLite.append(Seq((3, "c")).toDF("id", "v"), t)
    assert(DeltaLite.read(spark, t).orderBy("id")
      .collect().map(_.getInt(0)).toSeq == Seq(1, 2, 3))

    DeltaLite.overwrite(Seq((9, "z")).toDF("id", "v"), t)
    assert(DeltaLite.read(spark, t).collect().map(_.getInt(0)).toSeq == Seq(9))
    // three commits on disk: 0,1,2
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val commits = fs.listStatus(new org.apache.hadoop.fs.Path(t, "_delta_log"))
      .map(_.getPath.getName).filter(_.endsWith(".json")).sorted
    assert(commits.length == 3)
  }

  test("remove actions drop files from the snapshot") {
    import spark.implicits._
    val t = freshDir("delta2")
    DeltaLite.append(Seq((1, "a")).toDF("id", "v"), t)
    DeltaLite.append(Seq((2, "b")).toDF("id", "v"), t)
    val (files, version) = DeltaLite.activeFiles(spark, t)
    assert(files.size >= 2 && version == 1L)
  }

  test("checkpoint seeds the replay; later json commits still apply") {
    import spark.implicits._
    val t = freshDir("delta3")
    DeltaLite.append(Seq((1, "a")).toDF("id", "v"), t)   // v0
    DeltaLite.append(Seq((2, "b")).toDF("id", "v"), t)   // v1
    val (files, _) = DeltaLite.activeFiles(spark, t)
    // write a checkpoint at v1 advertising the current files
    val cpRows = files.map(f => Tuple1(f)).toDF("path")
      .select(struct(col("path")).as("add"))
    cpRows.coalesce(1).write.parquet(
      s"$t/_delta_log/00000000000000000001.checkpoint.parquet")
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(t, "_delta_log/_last_checkpoint"), true)
    out.write("""{"version":1}""".getBytes); out.close()

    DeltaLite.append(Seq((3, "c")).toDF("id", "v"), t)   // v2, after checkpoint
    assert(DeltaLite.read(spark, t).orderBy("id")
      .collect().map(_.getInt(0)).toSeq == Seq(1, 2, 3))
  }

  test("multi-part checkpoint: adds split across parts, all unioned") {
    import spark.implicits._
    val t = freshDir("delta_mpcp")
    DeltaLite.append(Seq((1, "a")).toDF("id", "v"), t)   // v0
    DeltaLite.append(Seq((2, "b")).toDF("id", "v"), t)   // v1
    val (files, _) = DeltaLite.activeFiles(spark, t)
    assert(files.size >= 2)
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // split the adds across two single-FILE checkpoint parts (real layout:
    // each part is one parquet file, not a directory)
    def writePart(paths: Seq[String], target: String): Unit = {
      val tmp = freshDir("delta_mpcp_tmp")
      paths.map(Tuple1(_)).toDF("path")
        .select(struct(col("path")).as("add"))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
        .map(_.getPath).find(_.getName.endsWith(".parquet")).get
      fs.rename(part, new org.apache.hadoop.fs.Path(target))
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    }
    val (half1, half2) = files.splitAt(files.size / 2)
    writePart(half1,
      s"$t/_delta_log/00000000000000000001.checkpoint.0000000001.0000000002.parquet")
    writePart(half2,
      s"$t/_delta_log/00000000000000000001.checkpoint.0000000002.0000000002.parquet")
    val out = fs.create(
      new org.apache.hadoop.fs.Path(t, "_delta_log/_last_checkpoint"), true)
    out.write("""{"version":1,"parts":2}""".getBytes); out.close()
    DeltaLite.append(Seq((3, "c")).toDF("id", "v"), t)   // v2, after checkpoint
    // delete the json commits at/below the checkpoint: the replay must now
    // rely on the checkpoint parts alone
    fs.delete(new org.apache.hadoop.fs.Path(t, "_delta_log/00000000000000000000.json"), false)
    fs.delete(new org.apache.hadoop.fs.Path(t, "_delta_log/00000000000000000001.json"), false)
    assert(DeltaLite.read(spark, t).orderBy("id")
      .collect().map(_.getInt(0)).toSeq == Seq(1, 2, 3))
  }

  test("protocol gate: unknown v3 features rejected; v2/CM/DV accepted") {
    import spark.implicits._
    val t = freshDir("delta4")
    DeltaLite.append(Seq((1, "a")).toDF("id", "v"), t)
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def protoCommit(v: Long, json: String): Unit = {
      val out = fs.create(new org.apache.hadoop.fs.Path(
        t, f"_delta_log/$v%020d.json"), true)
      out.write(json.getBytes); out.close()
    }
    protoCommit(1, """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,
      "readerFeatures":["v2Checkpoint"]}}""".replaceAll("\n\\s*", ""))
    intercept[IllegalArgumentException] { DeltaLite.read(spark, t) }
    // reader v2 (column mapping) is supported since r7; with no metaData
    // mapping mode the read is a plain physical scan
    protoCommit(1, """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""")
    assert(DeltaLite.read(spark, t).count() == 1)
    protoCommit(1, """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,
      "readerFeatures":["columnMapping"]}}""".replaceAll("\n\\s*", ""))
    assert(DeltaLite.read(spark, t).count() == 1)
    protoCommit(1, """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,
      "readerFeatures":["deletionVectors"]}}""".replaceAll("\n\\s*", ""))
    assert(DeltaLite.read(spark, t).count() == 1)
  }

  test("column mapping name mode: physical names resolve to logical, " +
      "structs recurse") {
    import spark.implicits._
    val t = freshDir("delta_cm1")
    val df = Seq((1L, "a", (10, "x")), (2L, "b", (20, "y")))
      .toDF("id", "v", "nested")
    DeltaLite.writeMapped(df, t, "name")
    // the parquet files on disk must NOT contain the logical names
    val raw = spark.read.parquet(s"$t/data-*")
    assert(raw.columns.toSet == Set("col-1", "col-2", "col-3"))
    val got = DeltaLite.read(spark, t).orderBy("id")
    assert(got.columns.toSeq == Seq("id", "v", "nested"))
    val rows = got.collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(rows.map(_.getStruct(2).getInt(0)).toSeq == Seq(10, 20))
  }

  test("column mapping id mode: parquet field ids resolve logical names") {
    import spark.implicits._
    val t = freshDir("delta_cm2")
    val df = Seq((1L, 1.5, "a"), (2L, 2.5, "b")).toDF("id", "score", "v")
    DeltaLite.writeMapped(df, t, "id")
    val got = DeltaLite.read(spark, t).orderBy("id")
    assert(got.columns.toSeq == Seq("id", "score", "v"))
    assert(got.collect().map(r => (r.getLong(0), r.getString(2))).toSeq ==
      Seq((1L, "a"), (2L, "b")))
    // the id-resolved schema must not leak parquet.field.id metadata:
    // re-using it against id-less files (with fieldId.read still set)
    // would otherwise fail resolution
    assert(!got.schema.fields.exists(_.metadata.contains("parquet.field.id")))
    val plain = freshDir("delta_cm2_plain")
    Seq((9L, 9.9, "z")).toDF("id", "score", "v").write.parquet(plain)
    assert(spark.read.schema(got.schema).parquet(plain).count() == 1)
  }

  test("checkpoint with thousands of synthetic adds prunes on executors " +
      "and scans only the real files") {
    import org.apache.spark.sql.functions.{col, struct}
    import spark.implicits._
    val t = freshDir("delta_many")
    val df = (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    DeltaLite.overwrite(df.filter(col("id") <= 50).coalesce(1), t, collectStats = true)
    DeltaLite.append(df.filter(col("id") > 50).coalesce(1), t, collectStats = true)
    val real = DeltaLite.snapshot(spark, t).entries.map(e => (e.path, e.stats.orNull))
    val fakes = (0 until 5000).map { i =>
      val lo = 100000L + i * 100
      (f"data/synthetic-$i%05d.parquet",
        s"""{"numRecords":10,"minValues":{"id":$lo},"maxValues":{"id":${lo + 99}},"nullCount":{"id":0}}""")
    }
    val cpDf = (real ++ fakes).toDF("path", "stats")
      .select(struct(col("path"), col("stats")).as("add"))
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = s"$t/_cp_build"
    cpDf.coalesce(1).write.parquet(tmp)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    fs.rename(part, new org.apache.hadoop.fs.Path(
      t, f"_delta_log/${1L}%020d.checkpoint.parquet"))
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    val out = fs.create(new org.apache.hadoop.fs.Path(
      t, "_delta_log/_last_checkpoint"), true)
    out.write("""{"version":1}""".getBytes); out.close()
    fs.delete(new org.apache.hadoop.fs.Path(t, f"_delta_log/${0L}%020d.json"), false)
    fs.delete(new org.apache.hadoop.fs.Path(t, f"_delta_log/${1L}%020d.json"), false)
    val (kept, total) = DeltaLite.pruneCount(spark, t, "id <= 100")
    assert(total == 5002 && kept == 2, s"kept $kept / total $total")
    // the synthetic paths don't exist on disk — this read only succeeds
    // if pruning removed them BEFORE the scan planned its file list
    val got = DeltaLite.readWhere(spark, t, "id <= 100")
      .orderBy("id").select("id").as[Long].collect()
    assert(got.toSeq == (1L to 100L))
  }

  test("checkpoint-less log with 20k commits replays distributed with " +
      "bounded driver state") {
    import spark.implicits._
    val t = freshDir("delta_many_commits")
    // v0: a real table (metaData + protocol + real adds with stats)
    DeltaLite.append((1L to 100L).map(i => (i, s"v$i")).toDF("id", "v")
      .coalesce(1), t, collectStats = true)
    // v1..v20000: synthetic add/remove churn — every commit adds one fake
    // file and removes the previous commit's fake, so the net state after
    // replay is ONLY v0's real files. A driver-map replay would hold every
    // fake add transiently; the distributed path reconciles per path.
    val logDir = new java.io.File(s"$t/_delta_log")
    (1 to 20000).foreach { v =>
      val w = new java.io.BufferedWriter(new java.io.FileWriter(
        new java.io.File(logDir, f"$v%020d.json")))
      w.write(s"""{"add":{"path":"data/fake-$v.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""")
      w.newLine()
      if (v > 1) {
        w.write(s"""{"remove":{"path":"data/fake-${v - 1}.parquet","dataChange":true}}""")
        w.newLine()
      }
      w.close()
    }
    // v20001: remove the last fake — final live set is exactly v0's adds
    val wLast = new java.io.BufferedWriter(new java.io.FileWriter(
      new java.io.File(logDir, f"${20001L}%020d.json")))
    wLast.write("""{"remove":{"path":"data/fake-20000.parquet","dataChange":true}}""")
    wLast.newLine(); wLast.close()

    val snap = DeltaLite.snapshot(spark, t)
    assert(snap.version == 20001L)
    assert(snap.entries.forall(!_.path.contains("fake")),
      s"fake files survived: ${snap.entries.map(_.path).filter(_.contains("fake")).take(3)}")
    // (graft's own append writer emits no metaData action — schema comes
    // from parquet footers — so snap.meta stays None here, as on the
    // driver-loop path)
    // the fake paths never exist on disk — the read only succeeds if the
    // reconciliation dropped them before the scan planned its file list
    val got = DeltaLite.read(spark, t).orderBy("id").select("id").as[Long].collect()
    assert(got.toSeq == (1L to 100L))
  }

  test("distributed commit replay keeps within-commit remove+add (DV " +
      "rewrite shape) and respects the threshold conf") {
    import spark.implicits._
    val t = freshDir("delta_commit_threshold")
    DeltaLite.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1), t)
    val (files0, _) = DeltaLite.activeFiles(spark, t)
    val real = files0.head
    // one commit that removes AND re-adds the same real path (what a DV
    // rewrite emits): the add must win within the commit
    val logDir = new java.io.File(s"$t/_delta_log")
    val w = new java.io.BufferedWriter(new java.io.FileWriter(
      new java.io.File(logDir, f"${1L}%020d.json")))
    w.write(s"""{"remove":{"path":"$real","dataChange":false}}""")
    w.newLine()
    w.write(s"""{"add":{"path":"$real","partitionValues":{},"size":1,"modificationTime":0,"dataChange":false}}""")
    w.newLine(); w.close()
    spark.conf.set(DeltaLite.CommitPlanThresholdKey, "2")
    try {
      val snap = DeltaLite.snapshot(spark, t)
      assert(snap.entries.map(_.path).contains(real))
      assert(DeltaLite.read(spark, t).count() == 2)
    } finally spark.conf.unset(DeltaLite.CommitPlanThresholdKey)
  }

  test("addDeletionVectors probe-first cap fails fast on oversized input") {
    import spark.implicits._
    val t = freshDir("delta_dv_cap")
    DeltaLite.overwrite(Seq((1L, "a")).toDF("id", "v"), t)
    val big = spark.range(0, 100).selectExpr("'f.parquet' AS path", "id AS pos")
    intercept[IllegalArgumentException] {
      DeltaLite.addDeletionVectors(t, big, maxPositions = 50)
    }
  }

  test("deletion vectors: positions vanish from the read") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val t = freshDir("delta_dv")
    val df = (1 to 500).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    DeltaLite.overwrite(df, t)
    val rel = regexp_replace(regexp_replace(col("_metadata.file_path"),
      "^file:/+", "/"), java.util.regex.Pattern.quote(t + "/"), "")
    val deletes = DeltaLite.read(spark, t)
      .select(rel.as("path"), col("_metadata.row_index").as("pos"), col("id"))
      .filter(col("id") % 5 === 0).select("path", "pos")
    DeltaLite.addDeletionVectors(t, deletes)
    val got = DeltaLite.read(spark, t).select("id").as[Long].collect().sorted
    assert(got.length == 400)
    assert(got.forall(_ % 5 != 0))
    // a second DV commit replaces the first (re-add same path)
    val more = DeltaLite.read(spark, t)
      .select(rel.as("path"), col("_metadata.row_index").as("pos"), col("id"))
      .filter(col("id") % 2 === 0).select("path", "pos")
    DeltaLite.addDeletionVectors(t, more)
    val got2 = DeltaLite.read(spark, t).select("id").as[Long].collect().sorted
    // latest add wins per file: only the second DV is in force. It was
    // computed from the already-filtered read, so even multiples of 5
    // (absent there) are not in it and reappear.
    assert(got2.length == 250 + 50)
    assert(got2.filter(_ % 2 == 0).forall(_ % 5 == 0))
  }

  test("roaring codec: array, bitset, multi-bitmap, run-container decode") {
    import graft.sources.DeletionVectors
    // array containers + second 32-bit bitmap
    val a = Array[Long](0L, 1L, 65536L, (1L << 32) + 7L)
    assert(DeletionVectors.decode(DeletionVectors.encode(a)).toSeq == a.toSeq)
    // bitset container: > 4096 values in one 16-bit key space
    val dense = (0L until 5000L).toArray
    assert(DeletionVectors.decode(DeletionVectors.encode(dense)).toSeq == dense.toSeq)
    // z85 roundtrip
    val bytes = Array.tabulate[Byte](16)(_.toByte)
    assert(DeletionVectors.z85Decode(DeletionVectors.z85Encode(bytes)).toSeq == bytes.toSeq)
    // hand-built run container (cookie 12347): values 10..13 in key 0
    val bb = java.nio.ByteBuffer.allocate(64)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(DeletionVectors.Magic); bb.putLong(1L)
    bb.putInt(12347 | (0 << 16)) // 1 container
    bb.put(1.toByte)             // run flag for container 0
    bb.putShort(0.toShort); bb.putShort(3.toShort) // key 0, card-1 = 3
    bb.putShort(1.toShort)       // one run
    bb.putShort(10.toShort); bb.putShort(3.toShort) // start 10, len 3
    val run = java.util.Arrays.copyOf(bb.array(), bb.position())
    assert(DeletionVectors.decode(run).toSeq == Seq(10L, 11L, 12L, 13L))
  }

  test("roaring codec property: random position sets round-trip") {
    import graft.sources.DeletionVectors
    val rnd = new scala.util.Random(1234)
    for (trial <- 1 to 25) {
      val n = rnd.nextInt(3000)
      val positions = Array.fill(n) {
        // mix dense low ranges (bitset containers), sparse keys, and a
        // second 32-bit bitmap
        rnd.nextInt(4) match {
          case 0 => rnd.nextInt(6000).toLong
          case 1 => 100000L + rnd.nextInt(200)
          case 2 => rnd.nextLong(1L << 20)
          case _ => (1L << 32) + rnd.nextInt(10000)
        }
      }
      val expected = positions.distinct.sorted.toSeq
      val got = DeletionVectors.decode(DeletionVectors.encode(positions)).toSeq
      assert(got == expected, s"trial $trial n=$n")
    }
    assert(DeletionVectors.decode(DeletionVectors.encode(Array.empty[Long])).isEmpty)
  }

  test("partitioned write/read: partition columns come back from the log") {
    import spark.implicits._
    val t = freshDir("delta_part1")
    val df = Seq((1, "a", "us"), (2, "b", "us"), (3, "c", "eu"),
      (4, "d", null)).toDF("id", "v", "region")
    DeltaLite.append(df, t, partitionBy = Seq("region"))
    val got = DeltaLite.read(spark, t)
    // schema order per the metaData schemaString (= original df order)
    assert(got.columns.toSeq == Seq("id", "v", "region"))
    val rows = got.orderBy("id").collect()
      .map(r => (r.getInt(0), r.getString(2))).toSeq
    assert(rows == Seq((1, "us"), (2, "us"), (3, "eu"), (4, null)))
  }

  test("partitioned write round-trips escaped and typed partition values") {
    import spark.implicits._
    val t = freshDir("delta_part2")
    val df = Seq(
      (1, java.sql.Date.valueOf("2024-01-15"), "a b/c=d%e"),
      (2, java.sql.Date.valueOf("2024-02-20"), "plain"))
      .toDF("id", "d", "s")
    DeltaLite.append(df, t, partitionBy = Seq("d", "s"))
    val got = DeltaLite.read(spark, t).orderBy("id").collect()
    assert(got.map(_.getDate(1).toString).toSeq ==
      Seq("2024-01-15", "2024-02-20"))
    assert(got.map(_.getString(2)).toSeq == Seq("a b/c=d%e", "plain"))
    // partition column typed per schemaString, not string
    assert(DeltaLite.read(spark, t).schema("d").dataType ==
      org.apache.spark.sql.types.DateType)
  }

  test("partition predicates prune at the metadata level, exactly") {
    import spark.implicits._
    val t = freshDir("delta_part3")
    val df = (1 to 90).map(i => (i, s"r$i", i % 3)).toDF("id", "v", "bucket")
    DeltaLite.overwrite(df, t, partitionBy = Seq("bucket"))
    val (kept, total) = DeltaLite.pruneCount(spark, t, "bucket = 1")
    assert(total >= 3 && kept * 3 <= total,
      s"expected exact partition pruning, kept $kept/$total")
    val got = DeltaLite.readWhere(spark, t, "bucket = 1")
      .select("id").collect().map(_.getInt(0)).sorted.toSeq
    assert(got == (1 to 90).filter(_ % 3 == 1).toSeq)
    // date-typed predicate domains work too (no stats, pv only)
    val (k2, _) = DeltaLite.pruneCount(spark, t, "bucket >= 10")
    assert(k2 == 0)
  }

  test("checkpoint preserves partitionValues, stats, and metaData") {
    import spark.implicits._
    val t = freshDir("delta_part4")
    val df = (1 to 60).map(i => (i, i % 2)).toDF("id", "par")
    DeltaLite.append(df, t, collectStats = true, partitionBy = Seq("par"))
    DeltaLite.writeCheckpoint(spark, t)
    // drop the json commit: replay must come from the checkpoint alone
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(
      t, "_delta_log/00000000000000000000.json"), false)
    val got = DeltaLite.read(spark, t)
    assert(got.columns.toSeq == Seq("id", "par"))
    assert(got.filter("par = 1").count() == 30)
    val (kept, total) = DeltaLite.pruneCount(spark, t, "par = 0")
    assert(kept < total, s"pv pruning lost through checkpoint: $kept/$total")
    val (k2, t2) = DeltaLite.pruneCount(spark, t, "id <= 0")
    assert(k2 == 0 && t2 == total, "stats pruning lost through checkpoint")
  }

  test("checkpoint preserves column mapping metaData") {
    import spark.implicits._
    val t = freshDir("delta_part5")
    DeltaLite.writeMapped(Seq((1, "x"), (2, "y")).toDF("id", "v"), t, "name")
    DeltaLite.writeCheckpoint(spark, t)
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(
      t, "_delta_log/00000000000000000000.json"), false)
    val got = DeltaLite.read(spark, t).orderBy("id")
    assert(got.columns.toSeq == Seq("id", "v"))
    assert(got.collect().map(_.getString(1)).toSeq == Seq("x", "y"))
  }

  test("write path authors checkpoints every N commits and the reader " +
      "plans from the newest one") {
    import spark.implicits._
    val t = freshDir("delta_auto_cp")
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // 25 appends at the spec-default interval 10 -> checkpoints at v10, v20
    (1 to 25).foreach { i =>
      DeltaLite.append(Seq((i.toLong, s"v$i")).toDF("id", "v").coalesce(1), t)
    }
    val logDir = new org.apache.hadoop.fs.Path(t, "_delta_log")
    val cps = fs.listStatus(logDir).map(_.getPath.getName)
      .filter(_.contains("checkpoint")).sorted.toSeq
    assert(cps.contains(f"${10L}%020d.checkpoint.parquet"), cps)
    assert(cps.contains(f"${20L}%020d.checkpoint.parquet"), cps)
    val lcp = new String(fs.open(new org.apache.hadoop.fs.Path(logDir,
      "_last_checkpoint")).readAllBytes(), "UTF-8")
    assert(lcp.contains("\"version\":20"), lcp)
    // delete every commit the newest checkpoint covers: the read only
    // succeeds if replay starts from the checkpoint, not commit 0
    (0L to 20L).foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(logDir, f"$v%020d.json"), false)
    }
    val got = DeltaLite.read(spark, t).select("id").as[Long].collect().sorted
    assert(got.toSeq == (1L to 25L), s"got ${got.length} rows")
  }

  test("checkpoints round-trip deletion-vector tables") {
    import spark.implicits._
    val t = freshDir("delta_cp_dv")
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    DeltaLite.overwrite((1 to 200).map(i => (i.toLong, s"v$i"))
      .toDF("id", "v").coalesce(1), t)
    val rel = regexp_replace(regexp_replace(col("_metadata.file_path"),
      "^file:/+", "/"), java.util.regex.Pattern.quote(t + "/"), "")
    val deletes = DeltaLite.read(spark, t)
      .select(rel.as("path"), col("_metadata.row_index").as("pos"), col("id"))
      .filter(col("id") % 4 === 0).select("path", "pos")
    DeltaLite.addDeletionVectors(t, deletes)
    DeltaLite.writeCheckpoint(spark, t)
    val logDir = new org.apache.hadoop.fs.Path(t, "_delta_log")
    // drop all JSON commits: state must come from the checkpoint alone,
    // including the DV descriptors
    fs.listStatus(logDir).map(_.getPath)
      .filter(_.getName.endsWith(".json")).foreach(fs.delete(_, false))
    val got = DeltaLite.read(spark, t).select("id").as[Long].collect().sorted
    assert(got.length == 150)
    assert(got.forall(_ % 4 != 0))
  }
}
