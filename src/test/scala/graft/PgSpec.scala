package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{LoopbackPg, Pg}

/** PostgreSQL wire protocol v3: SCRAM/MD5/cleartext auth, simple-query
  * decode typed from RowDescription OIDs, partitioned range reads, and
  * the executed COPY FROM STDIN bulk path through the PgCopy transport
  * seam (database_postgres.go:380-480 BulkImportStream semantics). */
class PgSpec extends AnyFunSuite with SparkSuite {

  private def withServer[A](auth: String = "scram-sha-256")
      (f: (LoopbackPg, Pg.Conn) => A): A = {
    val srv = new LoopbackPg(auth)
    try f(srv, Pg.Conn("127.0.0.1", srv.port, "graft",
      user = "graft", password = "pw"))
    finally srv.close()
  }

  test("sslmode=require: SSLRequest upgrades to TLS, SCRAM + query run " +
      "encrypted; a wrong CA is rejected; a declining server is an error") {
    val srv = new LoopbackPg("scram-sha-256", "graft", "pw",
      tls = Some(WireCerts.serverContext))
    try {
      srv.define("t", Seq("k" -> Pg.Oid.Int8))
      srv.load("t", Seq(Seq(7L)))
      val conn = Pg.Conn("127.0.0.1", srv.port, "graft",
        user = "graft", password = "pw",
        sslMode = "require", caPem = Some(WireCerts.server._1))
      val c = new Pg.Client(conn)
      try assert(c.query("SELECT k FROM t")._2 == Seq(Seq(Some("7"))))
      finally c.close()
      // trusting an unrelated CA must fail the handshake
      intercept[java.io.IOException] {
        new Pg.Client(conn.copy(caPem = Some(WireCerts.stranger._1)))
      }
    } finally srv.close()
    // a plaintext-only server declining SSL fails sslmode=require…
    withServer() { (srv2, conn2) =>
      srv2.define("t", Seq("k" -> Pg.Oid.Int8))
      srv2.load("t", Seq(Seq(8L)))
      val e = intercept[java.io.IOException] {
        new Pg.Client(conn2.copy(sslMode = "require"))
      }
      assert(e.getMessage.contains("declined"))
      // …but sslmode=prefer falls back to plaintext
      val c2 = new Pg.Client(conn2.copy(sslMode = "prefer"))
      try assert(c2.query("SELECT k FROM t")._2 == Seq(Seq(Some("8"))))
      finally c2.close()
    }
  }

  test("scram-sha-256 handshake authenticates and a query round-trips") {
    withServer() { (srv, conn) =>
      srv.define("t", Seq("k" -> Pg.Oid.Int8, "name" -> Pg.Oid.Varchar))
      srv.load("t", Seq(Seq(1L, "a"), Seq(2L, "b")))
      val c = new Pg.Client(conn)
      try {
        val (fields, rows) = c.query("SELECT k, name FROM t ORDER BY k")
        assert(fields.map(_.name) == Seq("k", "name"))
        assert(fields.map(_.oid) == Seq(Pg.Oid.Int8, Pg.Oid.Varchar))
        assert(rows == Seq(Seq(Some("1"), Some("a")), Seq(Some("2"), Some("b"))))
      } finally c.close()
    }
  }

  test("scram rejects a wrong password with 28P01") {
    val srv = new LoopbackPg("scram-sha-256")
    try {
      val e = intercept[java.io.IOException] {
        new Pg.Client(Pg.Conn("127.0.0.1", srv.port, "graft",
          user = "graft", password = "wrong")).close()
      }
      assert(e.getMessage.contains("28P01") ||
        e.getMessage.contains("authentication"))
    } finally srv.close()
  }

  test("md5 and cleartext auth modes both pass") {
    Seq("md5", "password", "trust").foreach { mode =>
      withServer(mode) { (srv, conn) =>
        srv.define("t", Seq("k" -> Pg.Oid.Int4))
        srv.load("t", Seq(Seq(7)))
        val c = new Pg.Client(conn)
        try assert(c.query("SELECT k FROM t")._2 == Seq(Seq(Some("7"))))
        finally c.close()
      }
    }
  }

  test("copy: distributed COPY FROM STDIN lands every partition's rows") {
    withServer() { (srv, conn) =>
      srv.define("sink", Seq("k" -> Pg.Oid.Int8, "name" -> Pg.Oid.Varchar,
        "score" -> Pg.Oid.Float8))
      val df = spark.range(100).select(
        col("id").as("k"),
        concat(lit("row-"), col("id")).as("name"),
        (col("id") * 1.5).as("score")).repartition(4)
      val n = Pg.insert(df, conn, "sink")
      assert(n == 100)
      assert(srv.rowCount("sink") == 100)
      assert(srv.copies.get == 4) // one COPY stream per partition
      // spot-check text form landed unescaped-clean
      assert(srv.textRows("sink").flatMap(_.head).map(_.toLong).sorted ==
        (0L until 100L))
    }
  }

  test("copy: tabs, newlines, backslashes, and nulls survive the text format") {
    withServer() { (srv, conn) =>
      srv.define("esc", Seq("k" -> Pg.Oid.Int4, "v" -> Pg.Oid.Text))
      import spark.implicits._
      val df = Seq((1, "tab\there"), (2, "nl\nhere"), (3, "bs\\here"),
        (4, null.asInstanceOf[String])).toDF("k", "v").repartition(1)
      Pg.insert(df, conn, "esc")
      val got = srv.textRows("esc").map(r =>
        (r(0).get.toInt, r(1).orNull)).sortBy(_._1)
      assert(got == Seq((1, "tab\there"), (2, "nl\nhere"),
        (3, "bs\\here"), (4, null)))
    }
  }

  test("read: partitioned range read covers all rows once, typed") {
    withServer() { (srv, conn) =>
      srv.define("facts", Seq("k" -> Pg.Oid.Int8, "flag" -> Pg.Oid.Bool,
        "amt" -> Pg.Oid.Numeric, "d" -> Pg.Oid.Date,
        "ts" -> Pg.Oid.Timestamp, "name" -> Pg.Oid.Text))
      srv.load("facts", (0 until 97).map { i =>
        Seq(i.toLong, i % 2 == 0, BigDecimal(i) / 4,
          java.time.LocalDate.of(2024, 1, 1).plusDays(i.toLong),
          java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusMinutes(i.toLong),
          s"n$i")
      })
      val before = srv.statements.get
      val df = Pg.read(spark, conn, "facts",
        partitionColumn = Some("k"), splits = 4)
      assert(df.schema("k").dataType == LongType)
      assert(df.schema("flag").dataType == BooleanType)
      assert(df.schema("amt").dataType.isInstanceOf[DecimalType])
      assert(df.schema("d").dataType == DateType)
      assert(df.schema("ts").dataType == TimestampNTZType)
      assert(df.rdd.getNumPartitions == 4)
      val rows = df.collect()
      assert(rows.length == 97)
      assert(rows.map(_.getLong(0)).sorted.toSeq == (0L until 97L))
      assert(rows.filter(_.getBoolean(1)).length == 49)
      // exactly: schema probe + min/max probe + 4 slices
      assert(srv.statements.get - before == 6)
    }
  }

  test("read: SQL-text stream runs as one cursor; LIMIT respected") {
    withServer() { (srv, conn) =>
      srv.define("t", Seq("k" -> Pg.Oid.Int4))
      srv.load("t", (0 until 50).map(i => Seq(i)))
      val df = Pg.read(spark, conn,
        "SELECT k FROM t WHERE k >= 10 ORDER BY k LIMIT 5")
      assert(df.collect().map(_.getInt(0)).toSeq == (10 until 15))
    }
  }

  test("read: timestamp partition column splits in epoch space") {
    withServer() { (srv, conn) =>
      srv.define("ev", Seq("ts" -> Pg.Oid.Timestamp, "v" -> Pg.Oid.Int4))
      srv.load("ev", (0 until 60).map(i =>
        Seq(java.time.LocalDateTime.of(2024, 3, 1, 8, 0)
          .plusMinutes(i.toLong * 7), i)))
      val df = Pg.read(spark, conn, "ev",
        partitionColumn = Some("ts"), splits = 3)
      assert(df.count() == 60)
      assert(df.agg(sum("v")).head.getLong(0) == (0 until 60).sum)
    }
  }

  test("error: querying a missing relation raises a PgError and the " +
      "connection stays usable") {
    withServer() { (srv, conn) =>
      srv.define("t", Seq("k" -> Pg.Oid.Int4))
      srv.load("t", Seq(Seq(5)))
      val c = new Pg.Client(conn)
      try {
        val e = intercept[Pg.PgError](c.query("SELECT k FROM nope"))
        assert(e.getMessage.contains("does not exist"))
        // same connection recovers past the error
        assert(c.query("SELECT k FROM t")._2 == Seq(Seq(Some("5"))))
      } finally c.close()
    }
  }

  test("task yaml: a wire_protocol postgres conn routes source and target " +
      "through the native client (COPY in, ranged read out)") {
    import graft.repl.{Connections, ProtocolRoute, TaskConfig}
    withServer() { (srv, _) =>
      srv.define("seed", Seq("id" -> Pg.Oid.Int8, "name" -> Pg.Oid.Varchar))
      srv.define("out", Seq("id" -> Pg.Oid.Int8, "name" -> Pg.Oid.Varchar))
      srv.load("seed", (1 to 8).map(i => Seq(i.toLong, s"n$i")))
      // default postgres conns stay on the JDBC template path
      assert(!ProtocolRoute.applies(
        Connections.ConnSpec("P", "postgres", Map("host" -> "h"))))
      assert(ProtocolRoute.applies(Connections.ConnSpec("P", "postgres",
        Map("host" -> "h", "wire_protocol" -> "true"))))
      val yaml =
        s"""connections:
           |  PGW:
           |    type: postgres
           |    host: 127.0.0.1
           |    port: ${srv.port}
           |    database: graft
           |    username: graft
           |    password: pw
           |    wire_protocol: "true"
           |    partition_column: id
           |    splits: 3
           |source:
           |  conn: PGW
           |  stream: seed
           |target:
           |  conn: PGW
           |  object: out
           |  mode: full-refresh
           |""".stripMargin
      val dir = java.nio.file.Files.createTempDirectory("pg-task").toString
      TaskConfig.run(spark, yaml, dir)
      TaskConfig.run(spark, yaml, dir) // rerun: truncate + reload
      assert(srv.rowCount("out") == 8)
      assert(srv.textRows("out").flatMap(_.head).map(_.toLong).sorted ==
        (1L to 8L))
    }
  }

  test("merge-type modes fall back to the staged JDBC path (a bulk COPY " +
      "stream cannot express an upsert)") {
    import graft.repl.{Connections, ProtocolRoute}
    val wire = Connections.ConnSpec("P", "postgres",
      Map("wire_protocol" -> "true"))
    assert(ProtocolRoute.supportsMode(wire, "full-refresh", Nil))
    assert(ProtocolRoute.supportsMode(wire, "truncate", Nil))
    assert(ProtocolRoute.supportsMode(wire, "incremental", Nil)) // append
    assert(!ProtocolRoute.supportsMode(wire, "incremental", Seq("id")))
    assert(!ProtocolRoute.supportsMode(wire, "snapshot", Nil))
    // NoSQL stores keep every mode: their insert IS an upsert-by-PK
    val mongo = Connections.ConnSpec("M", "mongodb", Map.empty[String, String])
    assert(ProtocolRoute.supportsMode(mongo, "incremental", Seq("id")))
  }

  test("incremental watermark pushes into the wire query — only the delta " +
      "crosses, not the whole table") {
    import graft.repl.TaskConfig
    withServer() { (srv, _) =>
      srv.define("src", Seq("id" -> Pg.Oid.Int8, "v" -> Pg.Oid.Varchar))
      srv.load("src", (0 until 100).map(i => Seq(i.toLong, s"v$i")))
      val dir = java.nio.file.Files.createTempDirectory("pg-incr").toString
      val target = s"$dir/out"
      val yaml =
        s"""connections:
           |  PGW:
           |    type: postgres
           |    host: 127.0.0.1
           |    port: ${srv.port}
           |    database: graft
           |    username: graft
           |    password: pw
           |    wire_protocol: "true"
           |    partition_column: id
           |    splits: 2
           |source:
           |  conn: PGW
           |  stream: src
           |target:
           |  object: $target
           |  mode: incremental
           |  update_key: id
           |""".stripMargin
      TaskConfig.run(spark, yaml, dir)
      assert(spark.read.parquet(target).count() == 100)
      srv.load("src", (100 until 150).map(i => Seq(i.toLong, s"v$i")))
      val served0 = srv.rowsServed.get
      TaskConfig.run(spark, yaml, dir)
      val crossed = srv.rowsServed.get - served0
      // 50 delta rows + the min/max probe row — NOT the 150-row table
      assert(crossed < 60, s"$crossed rows crossed the wire; pushdown broken")
      val back = spark.read.parquet(target)
      assert(back.count() == 150)
      assert(back.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
        (0L until 150L))
    }
  }

  test("typed roundtrip: COPY out of a frame, partitioned read back equal") {
    withServer() { (srv, conn) =>
      srv.define("rt", Seq("k" -> Pg.Oid.Int8, "b" -> Pg.Oid.Bool,
        "f" -> Pg.Oid.Float8, "s" -> Pg.Oid.Text))
      val df = spark.range(40).select(
        col("id").as("k"), (col("id") % 2 === 0).as("b"),
        (col("id") / 8.0).as("f"),
        concat(lit("v"), col("id")).as("s")).repartition(3)
      Pg.insert(df, conn, "rt")
      val back = Pg.read(spark, conn, "rt",
        partitionColumn = Some("k"), splits = 3)
      assert(back.count() == 40)
      val a = df.orderBy("k").collect().toSeq
      val b = back.orderBy("k").collect().toSeq
      assert(a == b)
    }
  }
}
