package graft

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ArrowIO, AvroIO}

/** Avro / Arrow IPC round-trips: schema mapping, nulls, logical types. */
class FormatsSpec extends AnyFunSuite with SparkSuite {

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("n", IntegerType),
    StructField("x", DoubleType),
    StructField("ok", BooleanType),
    StructField("s", StringType),
    StructField("b", BinaryType),
    StructField("d", DateType),
    StructField("t", TimestampType)))

  private def mkTs(s: String, nanos: Int): Timestamp = {
    val t = Timestamp.valueOf(s); t.setNanos(nanos); t
  }

  private def sample = {
    val rows = Seq(
      Row(1L, 7, 3.25, true, "hello", Array[Byte](1, 2, 3),
        Date.valueOf("2024-02-29"), mkTs("2024-01-01 10:30:00", 123456000)),
      Row(2L, null, null, false, "wörld √", null,
        null, mkTs("1969-12-31 23:59:59", 999999000)), // pre-epoch, floor div
      Row(3L, -5, -0.0, null, null, Array.empty[Byte],
        Date.valueOf("1969-06-01"), null))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
  }

  private def collectSorted(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.orderBy("id").collect().toSeq.map(_.toSeq.map {
      case a: Array[Byte] => a.toSeq
      case x => x
    })

  test("avro roundtrip preserves values, nulls, dates, micro timestamps") {
    val path = "/tmp/graft-test/avro_rt"
    AvroIO.write(sample, path)
    val back = AvroIO.read(spark, path)
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(collectSorted(back) == collectSorted(sample))
  }

  test("arrow roundtrip preserves values, nulls, dates, micro timestamps") {
    val path = "/tmp/graft-test/arrow_rt"
    ArrowIO.write(sample, path)
    val back = ArrowIO.read(spark, path)
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(collectSorted(back) == collectSorted(sample))
  }

  test("arrow stream-format roundtrip") {
    val path = "/tmp/graft-test/arrows_rt"
    ArrowIO.writeStream(sample, path)
    val back = ArrowIO.readStream(spark, path)
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(collectSorted(back) == collectSorted(sample))
  }

  test("arrow roundtrip spans record-batch boundaries") {
    import spark.implicits._
    val df = (1 to 10000).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    val path = "/tmp/graft-test/arrow_big"
    ArrowIO.write(df, path)
    val back = ArrowIO.read(spark, path)
    assert(back.count() == 10000)
    assert(back.agg(org.apache.spark.sql.functions.sum("id")).head.getLong(0)
      == (1 to 10000).map(_.toLong).sum)
  }

  test("csv embedded-newline records auto-route to the multiLine parser") {
    val dir = "/tmp/graft-test/csv_embedded_nl"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    val os = fs.create(new org.apache.hadoop.fs.Path(s"$dir/a.csv"), true)
    os.write("id,txt\n1,\"line one\nline two\"\n2,plain\n".getBytes("UTF-8"))
    os.close()
    val df = graft.sources.FileSources.csv(spark, s"$dir/a.csv")
    val rows = df.orderBy("id").collect()
    assert(rows.length == 2)
    assert(rows(0).getString(1) == "line one\nline two")
    assert(rows(1).getString(1) == "plain")
    // a newline-free file takes the line-splittable parser and reads the
    // same values (the sniff is a behavior-preserving optimization)
    val os2 = fs.create(new org.apache.hadoop.fs.Path(s"$dir/b.csv"), true)
    os2.write("id,txt\n1,\"quoted, with comma\"\n2,plain\n".getBytes("UTF-8"))
    os2.close()
    val clean = graft.sources.FileSources.csv(spark, s"$dir/b.csv")
    val crows = clean.orderBy("id").collect()
    assert(crows(0).getString(1) == "quoted, with comma")
    assert(crows(1).getString(1) == "plain")
  }
}
