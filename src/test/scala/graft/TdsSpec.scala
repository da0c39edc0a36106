package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{LoopbackTds, Tds}
import graft.sources.Tds.{ColMeta, T}

/** SQL Server over TDS: PRELOGIN/LOGIN7 with password obfuscation,
  * binary token-stream decode (COLMETADATA/ROW/DONE), partitioned range
  * reads, and the executed INSERT BULK + BulkLoadBCP path — the wire
  * flow behind the bcp binary the reference shells out to
  * (database_sqlserver.go:655-780). */
class TdsSpec extends AnyFunSuite with SparkSuite {

  private def withServer[A](f: (LoopbackTds, Tds.Conn) => A): A = {
    val srv = new LoopbackTds()
    try f(srv, Tds.Conn("127.0.0.1", srv.port, "graft",
      user = "graft", password = "pw"))
    finally srv.close()
  }

  test("encrypt: ENCRYPT_ON negotiation tunnels the TLS handshake in " +
      "PRELOGIN packets; LOGIN7 + query + bulk ride inside TLS; a wrong " +
      "CA is rejected") {
    val srv = new LoopbackTds(tls = Some(WireCerts.serverContext))
    try {
      srv.define("t", Seq(ColMeta("k", T.IntN, 8),
        ColMeta("name", T.NVarChar, 200)))
      srv.load("t", Seq(Seq(9L, "enc")))
      val conn = Tds.Conn("127.0.0.1", srv.port, "graft",
        user = "graft", password = "pw",
        encrypt = true, caPem = Some(WireCerts.server._1))
      val c = new Tds.Client(conn)
      try {
        assert(c.query("SELECT k, name FROM t")._2 ==
          Seq(Seq(9L, "enc")))
      } finally c.close()
      // the bulk write path works over the encrypted channel too
      val df = spark.range(10).select(col("id").as("k"),
        concat(lit("v"), col("id")).as("name")).repartition(2)
      Tds.insert(df, conn, "t")
      assert(srv.rowCount("t") == 11)
      intercept[java.io.IOException] {
        new Tds.Client(conn.copy(caPem = Some(WireCerts.stranger._1)))
      }
    } finally srv.close()
  }

  test("login7 authenticates (password obfuscation round-trips) and a " +
      "typed query decodes from binary tokens") {
    withServer { (srv, conn) =>
      srv.define("t", Seq(ColMeta("k", T.IntN, 8),
        ColMeta("name", T.NVarChar, 200),
        ColMeta("amt", T.NumericN, 17, 10, 2),
        ColMeta("ok", T.BitN, 1),
        ColMeta("f", T.FltN, 8),
        ColMeta("d", T.DateN, 3),
        ColMeta("ts", T.DateTime2N, 0, scale = 7)))
      srv.load("t", Seq(Seq(7L, "héllo", BigDecimal("12.34"), true, 2.5,
        java.time.LocalDate.of(2024, 3, 5),
        java.time.LocalDateTime.of(2024, 3, 5, 10, 30, 15)),
        Seq(9L, null, BigDecimal("-0.50"), false, null, null, null)))
      val c = new Tds.Client(conn)
      try {
        val (cols, rows) = c.query("SELECT * FROM t ORDER BY k")
        assert(cols.map(_.name) ==
          Seq("k", "name", "amt", "ok", "f", "d", "ts"))
        val r0 = rows(0)
        assert(r0(0) == 7L)
        assert(r0(1) == "héllo")
        assert(r0(2) == new java.math.BigDecimal("12.34"))
        assert(r0(3) == true)
        assert(r0(4) == 2.5)
        assert(r0(5) == java.time.LocalDate.of(2024, 3, 5))
        assert(r0(6) == java.time.LocalDateTime.of(2024, 3, 5, 10, 30, 15))
        val r1 = rows(1)
        assert(r1(0) == 9L && r1(1) == null && r1(4) == null && r1(6) == null)
        assert(r1(2) == new java.math.BigDecimal("-0.50"))
      } finally c.close()
    }
  }

  test("a wrong password is rejected with login error 18456") {
    val srv = new LoopbackTds()
    try {
      val e = intercept[java.io.IOException] {
        new Tds.Client(Tds.Conn("127.0.0.1", srv.port, "graft",
          user = "graft", password = "bad")).close()
      }
      assert(e.getMessage.contains("18456") ||
        e.getMessage.contains("Login failed"))
    } finally srv.close()
  }

  test("bulk: distributed INSERT BULK + BulkLoadBCP lands every partition") {
    withServer { (srv, conn) =>
      srv.define("sink", Seq(ColMeta("k", T.IntN, 8),
        ColMeta("name", T.NVarChar, 400),
        ColMeta("score", T.FltN, 8)))
      val df = spark.range(100).select(
        col("id").as("k"),
        concat(lit("row-"), col("id")).as("name"),
        (col("id") * 1.5).as("score")).repartition(4)
      val n = Tds.insert(df, conn, "sink")
      assert(n == 100)
      assert(srv.rowCount("sink") == 100)
      assert(srv.bulks.get == 4) // one BulkLoadBCP message per partition
      assert(srv.textRows("sink").flatMap(_.head).map(_.toLong).sorted ==
        (0L until 100L))
    }
  }

  test("bulk: decimals, bools, dates, timestamps, and nulls round-trip " +
      "through the binary row format") {
    withServer { (srv, conn) =>
      srv.define("rt", Seq(ColMeta("k", T.IntN, 4),
        ColMeta("amt", T.NumericN, 17, 12, 3),
        ColMeta("ok", T.BitN, 1),
        ColMeta("d", T.DateN, 3),
        ColMeta("ts", T.DateTime2N, 0, scale = 7),
        ColMeta("s", T.NVarChar, 400)))
      import spark.implicits._
      val df = Seq(
        (1, BigDecimal("123.456"), true, "2024-01-31", "2024-01-31T23:59:59", "a"),
        (2, BigDecimal("-7.100"), false, null, null, null))
        .toDF("k", "amt", "ok", "dRaw", "tsRaw", "s")
        .select(col("k"), col("amt").cast(DecimalType(12, 3)).as("amt"),
          col("ok"), col("dRaw").cast(DateType).as("d"),
          col("tsRaw").cast(TimestampNTZType).as("ts"), col("s"))
        .repartition(1)
      Tds.insert(df, conn, "rt")
      val back = Tds.read(spark, conn, "rt",
        partitionColumn = Some("k"), splits = 2)
      assert(back.schema("amt").dataType == DecimalType(12, 3))
      assert(back.schema("ok").dataType == BooleanType)
      assert(back.schema("d").dataType == DateType)
      assert(back.schema("ts").dataType == TimestampNTZType)
      val rows = back.orderBy("k").collect()
      assert(rows(0).getDecimal(1) == new java.math.BigDecimal("123.456"))
      assert(rows(0).getBoolean(2))
      assert(rows(0).getDate(3).toString == "2024-01-31")
      assert(rows(1).isNullAt(3) && rows(1).isNullAt(4) && rows(1).isNullAt(5))
      assert(rows(1).getDecimal(1) == new java.math.BigDecimal("-7.100"))
    }
  }

  test("read: partitioned range read covers all rows once, typed, with " +
      "exactly probe + bounds + slices") {
    withServer { (srv, conn) =>
      srv.define("facts", Seq(ColMeta("k", T.IntN, 8),
        ColMeta("name", T.NVarChar, 200)))
      srv.load("facts", (0 until 83).map(i => Seq(i.toLong, s"n$i")))
      val before = srv.statements.get
      val df = Tds.read(spark, conn, "facts",
        partitionColumn = Some("k"), splits = 4)
      assert(df.schema("k").dataType == LongType)
      assert(df.rdd.getNumPartitions == 4)
      val rows = df.collect()
      assert(rows.length == 83)
      assert(rows.map(_.getLong(0)).sorted.toSeq == (0L until 83L))
      assert(srv.statements.get - before == 6)
    }
  }

  test("read: DATE and DATETIME2 partition columns range-split in epoch " +
      "space; an NVARCHAR column falls back to a single statement") {
    withServer { (srv, conn) =>
      srv.define("tt", Seq(ColMeta("k", T.IntN, 8),
        ColMeta("d", T.DateN, 3), ColMeta("ts", T.DateTime2N, 0, scale = 7),
        ColMeta("s", T.NVarChar, 200)))
      srv.load("tt", (0 until 57).map { i =>
        Seq(i.toLong, java.time.LocalDate.of(2024, 3, 1).plusDays(i.toLong),
          java.time.LocalDateTime.of(2024, 3, 1, 7, 45).plusHours(i.toLong),
          s"s$i")
      })
      Seq("d", "ts").foreach { pc =>
        val df = Tds.read(spark, conn, "tt",
          partitionColumn = Some(pc), splits = 3)
        assert(df.rdd.getNumPartitions == 3, s"col $pc")
        assert(df.collect().map(_.getLong(0)).sorted.toSeq == (0L until 57L),
          s"col $pc")
      }
      // not range-splittable → one statement, still correct
      val one = Tds.read(spark, conn, "tt",
        partitionColumn = Some("s"), splits = 3)
      assert(one.rdd.getNumPartitions == 1)
      assert(one.count() == 57)
    }
  }

  test("values spanning packet boundaries stream-decode and stream-encode " +
      "(a 10 KB NVARCHAR crosses the 4088-byte packet frames both ways)") {
    withServer { (srv, conn) =>
      srv.define("big", Seq(ColMeta("k", T.IntN, 8),
        ColMeta("body", T.NVarChar, 0xffff)))
      val payload = ("x" * 5000) + "¡ẞ☃" // 10 KB+ of UCS-2 on the wire
      val df = spark.range(6).select(col("id").as("k"),
        concat(lit(payload), col("id")).as("body")).repartition(2)
      Tds.insert(df, conn, "big") // MessageOut frames the bulk stream
      val back = Tds.read(spark, conn, "big") // PacketLeIn reassembles
      val rows = back.collect().map(r => (r.getLong(0), r.getString(1)))
        .sortBy(_._1)
      assert(rows.length == 6)
      rows.foreach { case (k, body) => assert(body == payload + k) }
    }
  }

  test("error: querying a missing table raises TdsError; the connection " +
      "recovers") {
    withServer { (srv, conn) =>
      srv.define("t", Seq(ColMeta("k", T.IntN, 4)))
      srv.load("t", Seq(Seq(3)))
      val c = new Tds.Client(conn)
      try {
        val e = intercept[Tds.TdsError](c.query("SELECT k FROM nope"))
        assert(e.getMessage.contains("does not exist"))
        assert(c.query("SELECT k FROM t")._2 == Seq(Seq(3)))
      } finally c.close()
    }
  }
}
