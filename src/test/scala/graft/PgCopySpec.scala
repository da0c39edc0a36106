package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.write.PgCopy

/** PG COPY text-format encoder: golden lines, escape/decode round-trip,
  * and the partition-streamed bulkLoad seam (database_postgres.go:380-480).
  */
class PgCopySpec extends AnyFunSuite with SparkSuite {

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("s", StringType),
    StructField("ok", BooleanType),
    StructField("b", BinaryType),
    StructField("x", DoubleType)))

  private def encode(rows: Row*): Seq[String] = {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 2), schema)
    PgCopy.encodedLines(df).collect().map(_.getString(0)).toSeq.sorted
  }

  test("renderCopySql matches the pq.CopyInSchema statement shape") {
    assert(PgCopy.renderCopySql("public.t", Seq("a", "b")) ==
      "COPY public.t (a, b) FROM STDIN WITH (FORMAT text)")
  }

  test("golden: plain row, nulls, and every escaped character") {
    val lines = encode(
      Row(1L, "plain", true, Array[Byte](0x0a, 0x7f), 1.5),
      Row(2L, null, false, null, null),
      Row(3L, "tab\there\nand\rand\\slash", true, null, 0.25))
    assert(lines == Seq(
      "1\tplain\tt\t\\\\x0a7f\t1.5",
      "2\t\\N\tf\t\\N\t\\N",
      "3\ttab\\there\\nand\\rand\\\\slash\tt\t\\N\t0.25"))
  }

  test("timestamps render as UTC wall clock + explicit offset, in ANY session tz") {
    // a bare string cast renders in spark.sql.session.timeZone with no
    // offset, so a non-UTC session would shift instants on load; the
    // encoder must pin the rendering to UTC and say so with +00
    val tsSchema = StructType(Seq(StructField("ts", TimestampType)))
    def t(iso: String) =
      java.sql.Timestamp.from(java.time.Instant.parse(iso))
    // the second instant sits in America/New_York's fall-back window
    // (01:30 local, ambiguous EST/EDT): a renderer that resolves the
    // zone offset twice shifts it by an hour; epoch arithmetic cannot
    val cases = Seq(
      t("2021-06-01T12:30:45.500Z") -> "2021-06-01 12:30:45.500000",
      t("2025-11-02T05:30:00Z") -> "2025-11-02 05:30:00.000000",
      t("1969-12-31T23:59:59.000001Z") -> "1969-12-31 23:59:59.000001")
    val prev = spark.conf.get("spark.sql.session.timeZone")
    try {
      for (tz <- Seq("UTC", "America/New_York", "Asia/Tokyo");
           (inst, expect) <- cases) {
        // one row per case keeps the input→render pairing exact (a set
        // compare would accept renders swapped between rows)
        spark.conf.set("spark.sql.session.timeZone", tz)
        val df = spark.createDataFrame(
          spark.sparkContext.parallelize(Seq(Row(inst)), 1), tsSchema)
        val pg = PgCopy.encodedLines(df).collect().map(_.getString(0)).toSeq
        assert(pg == Seq(expect + "+00"), s"pg copy of $inst in $tz")
        val my = graft.write.MyLoadData.encodedLines(df)
          .collect().map(_.getString(0)).toSeq
        assert(my == Seq(expect), s"load data of $inst in $tz")
      }
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("null boolean encodes \\N, not 'f'") {
    // when(c, t).otherwise(f) would swallow NULL into false — data
    // corruption the driver can't see; NULL must reach the \N coalesce
    val lines = encode(Row(9L, "x", null, null, 2.5))
    assert(lines.head == "9\tx\t\\N\t\\N\t2.5")
  }

  test("escape order: a literal backslash-t in data survives decode") {
    // data "\t" (two chars: backslash, t) must encode as "\\t" — distinct
    // from a real tab which encodes "\t"
    val lines = encode(Row(1L, "\\t", true, null, null))
    assert(lines.head == "1\t\\\\t\tt\t\\N\t\\N")
  }

  test("decode round-trip: escaping is lossless for adversarial strings") {
    def decode(line: String): Seq[Option[String]] = {
      // split on unescaped tabs, then unescape — a PG-side reader
      val fields = collection.mutable.ArrayBuffer.empty[Option[String]]
      val cur = new StringBuilder
      var i = 0
      def unescape(v: String): String = {
        val sb = new StringBuilder; var j = 0
        while (j < v.length) {
          if (v.charAt(j) == '\\' && j + 1 < v.length) {
            v.charAt(j + 1) match {
              case 't' => sb.append('\t')
              case 'n' => sb.append('\n')
              case 'r' => sb.append('\r')
              case '\\' => sb.append('\\')
              case c => sb.append('\\').append(c)
            }
            j += 2
          } else { sb.append(v.charAt(j)); j += 1 }
        }
        sb.toString
      }
      def flush(): Unit = {
        val v = cur.toString; cur.clear()
        fields += (if (v == "\\N") None else Some(unescape(v)))
      }
      while (i < line.length) {
        line.charAt(i) match {
          case '\t' => flush()
          case '\\' if i + 1 < line.length => cur.append(line.charAt(i)).append(line.charAt(i + 1)); i += 1
          case c => cur.append(c)
        }
        i += 1
      }
      flush()
      fields.toSeq
    }
    val nasty = Seq("a\tb", "x\\n", "\\", "\\\\", "line1\nline2", "\r\n", "\\N", "")
    nasty.zipWithIndex.foreach { case (s, i) =>
      val line = encode(Row(i.toLong, s, true, null, null)).head
      val decoded = decode(line)
      assert(decoded(1) == Some(s), s"round-trip failed for ${s.toList}")
    }
    // a true NULL decodes as None, distinct from the literal string "\\N"
    val nullLine = encode(Row(9L, null, true, null, null)).head
    assert(decode(nullLine)(1).isEmpty)
  }

  test("bulkLoad streams every partition through the transport") {
    val rows = (1L to 100L).map(i => Row(i, s"row$i", i % 2 == 0, null, i / 4.0))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4), schema)
    PgCopySpec.sent.clear()
    val n = PgCopy.bulkLoad(df, "public.tgt", PgCopySpec.recordingTransport)
    assert(n == 100L)
    val got = PgCopySpec.sent.toArray(Array.empty[(String, String)])
    assert(got.length == 100)
    // every partition used the same rendered COPY statement
    assert(got.map(_._1).distinct.toSeq ==
      Seq("COPY public.tgt (id, s, ok, b, x) FROM STDIN WITH (FORMAT text)"))
    assert(got.map(_._2).exists(_.startsWith("1\trow1\tf\t\\N\t0.25")))
  }

  test("bulkWrite dispatches postgres to COPY, others to batched JDBC") {
    import graft.sources.Jdbc
    val rows = (1L to 10L).map(i => Row(i, s"r$i", true, null, 1.0))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    // postgres + transport → fast path, rows counted
    PgCopySpec.sent.clear()
    val n = Jdbc.bulkWrite(df, "jdbc:ignored", "public.tgt", "postgres",
      Some(PgCopySpec.recordingTransport))
    assert(n == 10L)
    assert(PgCopySpec.sent.size() == 10)
    // derby (no fast path) → Spark JDBC writer, readable back
    val url = "jdbc:derby:memory:bulkwrite;create=true"
    val m = Jdbc.bulkWrite(df.select("id", "s"), url, "BW_T", "derby")
    assert(m == -1L)
    assert(Jdbc.read(spark, url, "BW_T").count() == 10L)
  }
}

object PgCopySpec {
  // executor-side collector (same JVM under local[*])
  val sent = new ConcurrentLinkedQueue[(String, String)]()
  val recordingTransport: PgCopy.CopyTransport = new PgCopy.CopyTransport {
    def copyPartition(copySql: String, lines: Iterator[String]): Long = {
      var n = 0L
      lines.foreach { l => sent.add((copySql, l)); n += 1 }
      n
    }
  }
}
