package graft

import java.time.LocalDate

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{DeltaLite, FileSkipping, IcebergLite}
import graft.sources.FileSkipping.{ColStats, FileStats}

/** Stats-based file skipping: predicate translation, the conservative
  * may-contain evaluator, and the Delta end-to-end pruned read. */
class FileSkippingSpec extends AnyFunSuite with SparkSuite {

  private def freshDir(name: String): String = {
    val p = s"/tmp/graft-test/$name"
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(p), true)
    p
  }

  private def stats(col: String, min: Any, max: Any, nulls: Long = 0,
      n: Long = 100): FileStats =
    FileStats(Some(n), Map(col -> ColStats(Some(min), Some(max), Some(nulls))))

  test("comparison predicates prune against min/max bounds") {
    val s = stats("x", BigDecimal(10), BigDecimal(20))
    def may(c: String) = FileSkipping.mayContain(FileSkipping.parse(c), s)
    assert(may("x = 15") && may("x = 10") && may("x = 20"))
    assert(!may("x = 9") && !may("x = 21"))
    assert(may("x < 11") && !may("x < 10") && may("x <= 10"))
    assert(may("x > 19") && !may("x > 20") && may("x >= 20"))
    assert(may("x != 15"))
    // min==max==v is the only case != can prune
    val point = stats("x", BigDecimal(5), BigDecimal(5))
    assert(!FileSkipping.mayContain(FileSkipping.parse("x != 5"), point))
    assert(FileSkipping.mayContain(FileSkipping.parse("x != 6"), point))
  }

  test("AND prunes when either side proves a mismatch; OR needs both") {
    val s = stats("x", BigDecimal(10), BigDecimal(20))
    def may(c: String) = FileSkipping.mayContain(FileSkipping.parse(c), s)
    assert(!may("x > 25 AND x < 100"))
    assert(may("x > 15 AND x < 100"))
    assert(may("x > 25 OR x < 15"))
    assert(!may("x > 25 OR x < 5"))
    // opaque OR-branch keeps the file even if the other side mismatches
    assert(may("x > 25 OR length(cast(x as string)) = 3"))
  }

  test("IN, IS NULL, and missing stats are handled conservatively") {
    val s = stats("x", BigDecimal(10), BigDecimal(20))
    def may(c: String, st: FileStats = s) =
      FileSkipping.mayContain(FileSkipping.parse(c), st)
    assert(may("x IN (1, 15, 99)") && !may("x IN (1, 2, 99)"))
    assert(!may("x IS NULL"))        // nullCount = 0
    assert(may("x IS NOT NULL"))
    val allNull = FileStats(Some(5), Map("x" -> ColStats(None, None, Some(5))))
    assert(may("x IS NULL", allNull) && !may("x IS NOT NULL", allNull))
    // unknown column / no stats: always keep
    assert(may("y = 123"))
    assert(may("x = 0", FileSkipping.NoStats))
  }

  test("string and date bounds compare in their own domains") {
    val s = FileStats(Some(10), Map(
      "name" -> ColStats(Some("alpha"), Some("mike"), Some(0L)),
      "d" -> ColStats(Some("2024-01-01"), Some("2024-06-30"), Some(0L))))
    def may(c: String) = FileSkipping.mayContain(FileSkipping.parse(c), s)
    assert(may("name = 'charlie'") && !may("name = 'zulu'"))
    assert(may("name >= 'mike'") && !may("name > 'mike'"))
    assert(may("d >= DATE'2024-06-01'"))
    assert(!may("d > DATE'2024-07-01'"))
    assert(!may("d < DATE'2024-01-01'"))
  }

  test("delta append with collectStats records per-file stats JSON") {
    import spark.implicits._
    val t = freshDir("skip1")
    DeltaLite.append(Seq((1, "a"), (2, "b")).toDF("id", "v"), t,
      collectStats = true)
    val snap = DeltaLite.snapshot(spark, t)
    assert(snap.entries.nonEmpty && snap.entries.forall(_.stats.isDefined))
    val raw = snap.entries.head.stats.get
    assert(raw.contains("numRecords") && raw.contains("minValues") &&
      raw.contains("maxValues") && raw.contains("nullCount"))
  }

  test("delta readWhere prunes files and matches read().filter()") {
    import spark.implicits._
    val t = freshDir("skip2")
    // three commits → three disjoint id ranges, one file range each
    DeltaLite.append((1 to 100).map(i => (i, s"r$i")).toDF("id", "v")
      .coalesce(1), t, collectStats = true)
    DeltaLite.append((101 to 200).map(i => (i, s"r$i")).toDF("id", "v")
      .coalesce(1), t, collectStats = true)
    DeltaLite.append((201 to 300).map(i => (i, s"r$i")).toDF("id", "v")
      .coalesce(1), t, collectStats = true)

    val (kept, total) = DeltaLite.pruneCount(spark, t, "id >= 250")
    assert(total == 3 && kept == 1)

    val got = DeltaLite.readWhere(spark, t, "id >= 250")
      .orderBy("id").collect().map(_.getInt(0)).toSeq
    assert(got == (250 to 300).toSeq)

    // all files pruned → empty result, schema intact
    val none = DeltaLite.readWhere(spark, t, "id > 9999")
    assert(none.columns.toSeq == Seq("id", "v") && none.count() == 0)

    // opaque predicate → no pruning, still correct
    val odd = DeltaLite.readWhere(spark, t, "id % 100 = 0").count()
    assert(odd == 3)
  }

  test("iceberg writeSnapshot collectStats → readWhere prunes by bounds") {
    import spark.implicits._
    val t = freshDir("iceskip1")
    // repartitionByRange → disjoint per-file id ranges
    IcebergLite.writeSnapshot(
      (1 to 300).map(i => (i, s"r$i")).toDF("id", "v")
        .repartitionByRange(3, org.apache.spark.sql.functions.col("id")),
      t, collectStats = true)
    val (kept, total) = IcebergLite.pruneCount(spark, t, "id >= 250")
    assert(total == 3 && kept == 1, s"kept=$kept total=$total")

    val got = IcebergLite.readWhere(spark, t, "id >= 250")
      .orderBy("id").collect().map(_.getInt(0)).toSeq
    assert(got == (250 to 300).toSeq)

    val none = IcebergLite.readWhere(spark, t, "id > 9999")
    assert(none.columns.toSeq == Seq("id", "v") && none.count() == 0)

    // string bounds prune too
    val (k2, _) = IcebergLite.pruneCount(spark, t, "v = 'zzz'")
    assert(k2 == 0)
  }

  test("iceberg decode/encode bounds roundtrip (Appendix D)") {
    import org.apache.spark.sql.types._
    // int LE
    assert(IcebergLite.decodeBound(
      Array[Byte](42, 0, 0, 0), IntegerType).contains(BigDecimal(42)))
    // long LE
    assert(IcebergLite.decodeBound(
      Array[Byte](1, 0, 0, 0, 0, 0, 0, 0), LongType).contains(BigDecimal(1)))
    // string utf8
    assert(IcebergLite.decodeBound("abc".getBytes("UTF-8"), StringType)
      .contains("abc"))
    // date = days LE
    assert(IcebergLite.decodeBound(Array[Byte](1, 0, 0, 0), DateType)
      .contains(LocalDate.ofEpochDay(1)))
    // decimal unscaled big-endian, scale 2: 0x01 0x2C = 300 → 3.00
    assert(IcebergLite.decodeBound(Array[Byte](1, 44), DecimalType(9, 2))
      .contains(BigDecimal("3.00")))
  }

  test("iceberg readWhere with deletes still matches read().filter()") {
    import spark.implicits._
    val t = freshDir("iceskip2")
    IcebergLite.writeSnapshot(
      (1 to 100).map(i => (i, s"r$i")).toDF("id", "v")
        .repartitionByRange(2, org.apache.spark.sql.functions.col("id")),
      t, collectStats = true)
    // delete ids 60..70 via equality deletes
    IcebergLite.appendDeletes(t, None,
      Some((60 to 70).map(i => Tuple1(i)).toDF("id")))
    val expect = IcebergLite.read(spark, t).filter("id >= 51")
      .orderBy("id").collect().map(_.getInt(0)).toSeq
    val got = IcebergLite.readWhere(spark, t, "id >= 51")
      .orderBy("id").collect().map(_.getInt(0)).toSeq
    assert(got == expect && got == ((51 to 59) ++ (71 to 100)).toSeq)
  }

  test("task yaml: where on a delta/iceberg source routes through readWhere") {
    import spark.implicits._
    val base = freshDir("skip_task")
    val df = (1 to 200).map(i => (i, s"r$i")).toDF("id", "v").coalesce(1)
    DeltaLite.append(df.filter("id <= 100"), s"$base/d", collectStats = true)
    DeltaLite.append(df.filter("id > 100"), s"$base/d", collectStats = true)
    IcebergLite.writeSnapshot(
      df.repartitionByRange(2, org.apache.spark.sql.functions.col("id")),
      s"$base/i", collectStats = true)
    for (fmt <- Seq("delta", "iceberg")) {
      val t = if (fmt == "delta") s"$base/d" else s"$base/i"
      val yaml =
        s"""source:
           |  stream: $t
           |  format: $fmt
           |  where: "id > 150"
           |target:
           |  object: $base/out_$fmt
           |  mode: full-refresh
           |""".stripMargin
      val n = graft.repl.TaskConfig.run(spark, yaml, "/root/testdata/sf0.001")
      assert(n == 50, s"$fmt: expected 50 rows, got $n")
    }
    // a where naming a post-select alias falls back to the unpruned read
    val yaml2 =
      s"""source:
         |  stream: $base/d
         |  format: delta
         |  select: [id as key, v]
         |  where: "key > 150"
         |target:
         |  object: $base/out_alias
         |  mode: full-refresh
         |""".stripMargin
    assert(graft.repl.TaskConfig.run(spark, yaml2,
      "/root/testdata/sf0.001") == 50)
  }

  test("delta readWhere prunes under column mapping (physical names)") {
    import spark.implicits._
    val t = freshDir("skip3")
    DeltaLite.writeMapped(
      (1 to 50).map(i => (i, s"x$i")).toDF("id", "v").coalesce(1), t, "name")
    // writeMapped records no stats → pruning keeps all files; the point
    // here is that the physical-name rename path still yields read+filter
    val snap0 = DeltaLite.snapshot(spark, t)
    assert(snap0.entries.nonEmpty)
    val got = DeltaLite.readWhere(spark, t, "id <= 10")
      .orderBy("id").collect().map(_.getInt(0)).toSeq
    assert(got == (1 to 10).toSeq)
  }
}
