package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{LoopbackMysql, Mysql}
import graft.write.MyLoadData

/** MySQL client/server protocol: native + caching_sha2 auth scrambles,
  * text-resultset decode typed from ColumnDefinition41, partitioned
  * range reads, and the executed LOAD DATA LOCAL INFILE bulk path
  * (database_mysql.go:543-613 LoadDataLocal semantics). */
class MysqlSpec extends AnyFunSuite with SparkSuite {

  private def withServer[A](plugin: String = "caching_sha2_password")
      (f: (LoopbackMysql, Mysql.Conn) => A): A = {
    val srv = new LoopbackMysql(plugin)
    try f(srv, Mysql.Conn("127.0.0.1", srv.port, "graft",
      user = "graft", password = "pw"))
    finally srv.close()
  }

  test("tls: CLIENT_SSL short response upgrades before credentials " +
      "travel; auth + query run encrypted; a wrong CA is rejected") {
    val srv = new LoopbackMysql(tls = Some(WireCerts.serverContext))
    try {
      srv.define("t", Seq("k" -> Mysql.T.LongLong))
      srv.load("t", Seq(Seq(5L)))
      val conn = Mysql.Conn("127.0.0.1", srv.port, "graft",
        user = "graft", password = "pw",
        ssl = true, caPem = Some(WireCerts.server._1))
      val c = new Mysql.Client(conn)
      try assert(c.query("SELECT k FROM t")._2 == Seq(Seq(Some("5"))))
      finally c.close()
      intercept[java.io.IOException] {
        new Mysql.Client(conn.copy(caPem = Some(WireCerts.stranger._1)))
      }
    } finally srv.close()
  }

  test("caching_sha2 and native scrambles both authenticate") {
    Seq("caching_sha2_password", "mysql_native_password").foreach { plugin =>
      withServer(plugin) { (srv, conn) =>
        srv.define("t", Seq("k" -> Mysql.T.LongLong))
        srv.load("t", Seq(Seq(42L)))
        val c = new Mysql.Client(conn)
        try {
          val (fields, rows) = c.query("SELECT k FROM t")
          assert(fields.head.name == "k")
          assert(fields.head.tpe == Mysql.T.LongLong)
          assert(rows == Seq(Seq(Some("42"))))
        } finally c.close()
      }
    }
  }

  test("caching_sha2 full authentication: RSA public-key exchange over a " +
      "plain connection (the protocol's cache-miss, no-TLS path)") {
    val srv = new LoopbackMysql(fullAuth = true)
    try {
      srv.define("t", Seq("k" -> Mysql.T.Long))
      srv.load("t", Seq(Seq(11)))
      val c = new Mysql.Client(Mysql.Conn("127.0.0.1", srv.port, "graft",
        user = "graft", password = "pw"))
      try assert(c.query("SELECT k FROM t")._2 == Seq(Seq(Some("11"))))
      finally c.close()
      // wrong password fails the decrypted comparison
      val e = intercept[java.io.IOException] {
        new Mysql.Client(Mysql.Conn("127.0.0.1", srv.port, "graft",
          user = "graft", password = "bad")).close()
      }
      assert(e.getMessage.contains("1045") ||
        e.getMessage.contains("Access denied"))
    } finally srv.close()
  }

  test("a wrong password is rejected with error 1045") {
    val srv = new LoopbackMysql()
    try {
      val e = intercept[java.io.IOException] {
        new Mysql.Client(Mysql.Conn("127.0.0.1", srv.port, "graft",
          user = "graft", password = "nope")).close()
      }
      assert(e.getMessage.contains("1045") ||
        e.getMessage.contains("Access denied"))
    } finally srv.close()
  }

  test("load data: distributed LOAD DATA LOCAL INFILE lands every " +
      "partition's rows") {
    withServer() { (srv, conn) =>
      srv.define("sink", Seq("k" -> Mysql.T.LongLong,
        "name" -> Mysql.T.VarString, "score" -> Mysql.T.Double))
      val df = spark.range(100).select(
        col("id").as("k"),
        concat(lit("row-"), col("id")).as("name"),
        (col("id") * 1.5).as("score")).repartition(4)
      val n = Mysql.insert(df, conn, "sink")
      assert(n == 100)
      assert(srv.rowCount("sink") == 100)
      assert(srv.loads.get == 4) // one LOAD DATA stream per partition
      assert(srv.textRows("sink").flatMap(_.head).map(_.toLong).sorted ==
        (0L until 100L))
    }
  }

  test("load data: escapes, nulls, and BoolAsInt survive the default format") {
    withServer() { (srv, conn) =>
      srv.define("esc", Seq("k" -> Mysql.T.Long, "v" -> Mysql.T.VarString,
        "b" -> Mysql.T.Tiny))
      import spark.implicits._
      val df = Seq((1, "tab\there", true), (2, "nl\nhere", false),
        (3, null.asInstanceOf[String], true)).toDF("k", "v", "b")
        .repartition(1)
      Mysql.insert(df, conn, "esc")
      val got = srv.textRows("esc").map(r =>
        (r(0).get.toInt, r(1).orNull, r(2).get)).sortBy(_._1)
      // BoolAsInt (database_mysql.go:552): booleans land as 1/0
      assert(got == Seq((1, "tab\there", "1"), (2, "nl\nhere", "0"),
        (3, null, "1")))
    }
  }

  test("renderLoadSql: binary columns go through @v + UNHEX (the " +
      "reference's columns_spec, database_mysql.go:562-585)") {
    val sql = MyLoadData.renderLoadSql("t", Seq(
      StructField("a", LongType), StructField("raw", BinaryType),
      StructField("c", StringType)))
    assert(sql.contains("(`a`, @v1, `c`)"))
    assert(sql.contains("SET `raw` = UNHEX(@v1)"))
  }

  test("read: partitioned range read covers all rows once, typed") {
    withServer() { (srv, conn) =>
      srv.define("facts", Seq("k" -> Mysql.T.LongLong,
        "flag" -> Mysql.T.Tiny, "amt" -> Mysql.T.NewDecimal,
        "d" -> Mysql.T.Date, "ts" -> Mysql.T.Datetime,
        "name" -> Mysql.T.VarString), decimals = Map("amt" -> 2))
      srv.load("facts", (0 until 89).map { i =>
        Seq(i.toLong, i % 2 == 0, BigDecimal(i) / 4,
          java.time.LocalDate.of(2024, 2, 1).plusDays(i.toLong),
          java.time.LocalDateTime.of(2024, 2, 1, 0, 0).plusMinutes(i.toLong),
          s"n$i")
      })
      val before = srv.statements.get
      val df = Mysql.read(spark, conn, "facts",
        partitionColumn = Some("k"), splits = 4)
      assert(df.schema("k").dataType == LongType)
      assert(df.schema("flag").dataType == ByteType)
      assert(df.schema("amt").dataType.isInstanceOf[DecimalType])
      assert(df.schema("d").dataType == DateType)
      assert(df.schema("ts").dataType == TimestampNTZType)
      assert(df.rdd.getNumPartitions == 4)
      val rows = df.collect()
      assert(rows.length == 89)
      assert(rows.map(_.getLong(0)).sorted.toSeq == (0L until 89L))
      // exactly: schema probe + min/max probe + 4 slices, plus one
      // session SET time_zone pin per connection (6 connections)
      import scala.jdk.CollectionConverters._
      val issued = srv.served.asScala.toSeq.takeRight(
        srv.statements.get - before)
      assert(issued.count(_.toUpperCase.startsWith("SET TIME_ZONE")) == 6)
      assert(issued.count(!_.toUpperCase.startsWith("SET ")) == 6)
    }
  }

  test("session pins time_zone to UTC right after auth (TIMESTAMP " +
      "instants parse as UTC regardless of server default)") {
    withServer() { (srv, conn) =>
      srv.define("t", Seq("k" -> Mysql.T.Long))
      val c = new Mysql.Client(conn)
      try c.query("SELECT k FROM t") finally c.close()
      import scala.jdk.CollectionConverters._
      assert(srv.served.asScala.headOption
        .exists(_.equalsIgnoreCase("SET time_zone = '+00:00'")))
    }
  }

  test("read: DATE and DATETIME partition columns range-split in epoch " +
      "space; a string column falls back to a single statement") {
    withServer() { (srv, conn) =>
      srv.define("tt", Seq("k" -> Mysql.T.LongLong, "d" -> Mysql.T.Date,
        "ts" -> Mysql.T.Datetime, "s" -> Mysql.T.VarString))
      srv.load("tt", (0 until 61).map { i =>
        Seq(i.toLong, java.time.LocalDate.of(2024, 1, 1).plusDays(i.toLong),
          java.time.LocalDateTime.of(2024, 1, 1, 6, 30).plusHours(i.toLong),
          s"s$i")
      })
      Seq("d", "ts").foreach { pc =>
        val df = Mysql.read(spark, conn, "tt",
          partitionColumn = Some(pc), splits = 3)
        assert(df.rdd.getNumPartitions == 3, s"col $pc")
        assert(df.collect().map(_.getLong(0)).sorted.toSeq == (0L until 61L),
          s"col $pc")
      }
      // not range-splittable → one statement, still correct
      val one = Mysql.read(spark, conn, "tt",
        partitionColumn = Some("s"), splits = 3)
      assert(one.rdd.getNumPartitions == 1)
      assert(one.count() == 61)
    }
  }

  test("read: SQL-text stream runs as one cursor with WHERE + LIMIT") {
    withServer() { (srv, conn) =>
      srv.define("t", Seq("k" -> Mysql.T.Long))
      srv.load("t", (0 until 50).map(i => Seq(i)))
      val df = Mysql.read(spark, conn,
        "SELECT k FROM t WHERE k >= 30 ORDER BY k LIMIT 4")
      assert(df.collect().map(_.getInt(0)).toSeq == (30 until 34))
    }
  }

  test("error: a bad statement raises MysqlError and execute recovers") {
    withServer() { (srv, conn) =>
      srv.define("t", Seq("k" -> Mysql.T.Long))
      val c = new Mysql.Client(conn)
      try {
        val e = intercept[Mysql.MysqlError](c.query("SELECT k FROM nope"))
        assert(e.getMessage.contains("does not exist"))
        assert(c.execute("TRUNCATE TABLE t") == 0L)
      } finally c.close()
    }
  }

  test("typed roundtrip: LOAD DATA in, partitioned read back equal") {
    withServer() { (srv, conn) =>
      srv.define("rt", Seq("k" -> Mysql.T.LongLong,
        "f" -> Mysql.T.Double, "s" -> Mysql.T.VarString))
      val df = spark.range(40).select(
        col("id").as("k"), (col("id") / 8.0).as("f"),
        concat(lit("v"), col("id")).as("s")).repartition(3)
      Mysql.insert(df, conn, "rt")
      val back = Mysql.read(spark, conn, "rt",
        partitionColumn = Some("k"), splits = 3)
      assert(back.count() == 40)
      assert(df.orderBy("k").collect().toSeq ==
        back.orderBy("k").collect().toSeq)
    }
  }
}
