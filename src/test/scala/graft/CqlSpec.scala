package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Cql, LoopbackCql}
import Cql._

/** ScyllaDB/Cassandra source-sink over the CQL native protocol v4:
  * value codec fidelity, STARTUP/QUERY/paging against the loopback
  * server, token-range partitioned reads, and upsert-by-PK inserts
  * (database_scylladb.go semantics, Spark-first fan-out).
  */
class CqlSpec extends AnyFunSuite with SparkSuite {

  test("value codec round-trips every scalar type") {
    def rt(v: Any, t: CqlType): Any = Cql.decodeValue(Cql.encodeValue(v, t), t)
    assert(rt("héllo", TVarchar) == "héllo")
    assert(rt(42L, TBigint) == 42L)
    assert(rt(-7, TInt) == -7)
    assert(rt(3.5, TDouble) == 3.5)
    assert(rt(1.25f, TFloat) == 1.25f)
    assert(rt(true, TBoolean) == true)
    assert(rt("12.340", TDecimal) == "12.340")
    assert(rt("-98765432109876543210", TVarint) == "-98765432109876543210")
    val ts = java.sql.Timestamp.from(
      java.time.Instant.parse("2024-05-06T07:08:09.123Z"))
    assert(rt(ts, TTimestamp) == ts)
    assert(rt(java.sql.Date.valueOf("2024-02-29"), TDate) ==
      java.sql.Date.valueOf("2024-02-29"))
    assert(rt("9d2b1fb2-6b27-43e9-9f4e-0f2a4b5c6d7e", TUuid) ==
      "9d2b1fb2-6b27-43e9-9f4e-0f2a4b5c6d7e")
    assert(rt("10.1.2.3", TInet) == "10.1.2.3")
    assert(rt(86399000000001L, TTime) == 86399000000001L)
    assert(rt(12000.toShort, TSmallint) == 12000.toShort)
    assert(rt((-5).toByte, TTinyint) == (-5).toByte)
    assert(rt(null, TVarchar) == null)
    assert(rt(Seq(1, 2, 3), TList(TInt)) == Seq(1, 2, 3))
    assert(rt(Map("a" -> 1L, "b" -> 2L), TMap(TVarchar, TBigint)) ==
      Map("a" -> 1L, "b" -> 2L))
    val blob = Cql.decodeValue(
      Cql.encodeValue(Array[Byte](1, 2, 3), TBlob), TBlob)
    assert(blob.asInstanceOf[Array[Byte]].toSeq == Seq[Byte](1, 2, 3))
  }

  private def seedServer(n: Int): LoopbackCql = {
    val srv = new LoopbackCql
    srv.define("ks", "events",
      Seq("id" -> TBigint, "name" -> TVarchar, "score" -> TDouble),
      pk = Seq("id"))
    srv.load("ks", "events",
      (1 to n).map(i => Seq(i.toLong, s"e$i", i / 2.0)))
    srv
  }

  test("auth: PLAIN credentials satisfy PasswordAuthenticator; wrong " +
      "password and unauthenticated queries are rejected") {
    val srv = new LoopbackCql(user = "graft", password = "pw")
    try {
      srv.define("ks", "t", Seq("id" -> TBigint), pk = Seq("id"))
      srv.load("ks", "t", Seq(Seq(5L)))
      // right credentials → AUTH_SUCCESS → queries flow
      val c = new Cql.Client("127.0.0.1", srv.port, "graft", "pw")
      try assert(c.query("SELECT * FROM ks.t").rows == Seq(Seq(5L)))
      finally c.close()
      // wrong password → credentials error from AUTH_RESPONSE
      val e = intercept[java.io.IOException] {
        new Cql.Client("127.0.0.1", srv.port, "graft", "nope").close()
      }
      assert(e.getMessage.contains("incorrect") ||
        e.getMessage.contains("authentication failed"))
      // no credentials at all → informative failure, not a hang
      val e2 = intercept[java.io.IOException] {
        new Cql.Client("127.0.0.1", srv.port).close()
      }
      assert(e2.getMessage.contains("no credentials"))
    } finally srv.close()
  }

  test("client: startup, select, and multi-page paging drain exactly") {
    val srv = seedServer(25)
    try {
      val c = new Cql.Client("127.0.0.1", srv.port)
      try {
        val (cols, rows) = Cql.drain(c, "SELECT * FROM ks.events", pageSize = 4)
        assert(cols.map(_._1) == Seq("id", "name", "score"))
        assert(cols.map(_._2) == Seq(TBigint, TVarchar, TDouble))
        assert(rows.size == 25)
        assert(rows.map(_.head.asInstanceOf[Long]).sorted == (1L to 25L))
      } finally c.close()
    } finally srv.close()
  }

  test("read: token-range partitions cover every row exactly once, typed") {
    val srv = seedServer(100)
    try {
      val df = Cql.read(spark, Cql.Conn("127.0.0.1", srv.port, "ks"),
        "events", partitionKey = Seq("id"), splits = 4, pageSize = 10)
      assert(df.schema.map(f => (f.name, f.dataType.typeName)).toSeq ==
        Seq(("id", "long"), ("name", "string"), ("score", "double")))
      assert(df.rdd.getNumPartitions == 4)
      val ids = df.collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == (1L to 100L))
      // 1 probe + 4 range selects at minimum (plus paging continuations)
      assert(srv.selects >= 5)
    } finally srv.close()
  }

  test("read: CQL text stream runs as one paged cursor") {
    val srv = seedServer(10)
    try {
      val df = Cql.read(spark, Cql.Conn("127.0.0.1", srv.port, "ks"),
        "SELECT * FROM ks.events LIMIT 7", splits = 4)
      assert(df.count() == 7)
      assert(df.rdd.getNumPartitions == 1)
    } finally srv.close()
  }

  test("insert: distributed, and a re-run upserts by pk (no duplicates)") {
    val srv = new LoopbackCql
    try {
      srv.define("ks", "sink",
        Seq("k" -> TInt, "v" -> TVarchar, "ts" -> TTimestamp,
          "dec" -> TDecimal),
        pk = Seq("k"))
      import spark.implicits._
      val df = (1 to 12).map(i => (i, s"v$i",
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(i * 100L)),
        new java.math.BigDecimal(s"$i.50")))
        .toDF("k", "v", "ts", "dec").repartition(3)
      assert(Cql.insert(df, Cql.Conn("127.0.0.1", srv.port, "ks"),
        "sink") == 12L)
      assert(srv.rowsOf("ks", "sink").size == 12)
      // INSERT is an upsert by pk: same keys, new values, still 12 rows
      val df2 = (1 to 12).map(i => (i, s"w$i",
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(i * 100L)),
        new java.math.BigDecimal(s"$i.75")))
        .toDF("k", "v", "ts", "dec")
      Cql.insert(df2, Cql.Conn("127.0.0.1", srv.port, "ks"), "sink")
      val rows = srv.rowsOf("ks", "sink")
      assert(rows.size == 12)
      assert(rows.forall(_(1).toString.startsWith("w")))
      // decimals keep scale through the wire (Spark DecimalType(38,18))
      assert(rows.head(3).toString.contains("."))
      // truncate clears
      Cql.execute(Cql.Conn("127.0.0.1", srv.port, "ks"), "TRUNCATE ks.sink")
      assert(srv.rowsOf("ks", "sink").isEmpty)
    } finally srv.close()
  }

  test("task yaml: scylla conn roundtrips source and target") {
    import graft.repl.{Connections, ProtocolRoute, TaskConfig}
    val srv = new LoopbackCql
    try {
      srv.define("ks", "seed",
        Seq("id" -> TBigint, "name" -> TVarchar), pk = Seq("id"))
      srv.define("ks", "out",
        Seq("id" -> TBigint, "name" -> TVarchar), pk = Seq("id"))
      srv.load("ks", "seed", (1 to 8).map(i => Seq(i.toLong, s"n$i")))
      assert(ProtocolRoute.applies(
        Connections.ConnSpec("S", "scylla", Map("host" -> "h"))))
      val yaml =
        s"""connections:
           |  SC:
           |    type: scylla
           |    host: 127.0.0.1
           |    port: ${srv.port}
           |    keyspace: ks
           |    partition_key: id
           |    splits: 3
           |source:
           |  conn: SC
           |  stream: seed
           |target:
           |  conn: SC
           |  object: out
           |  mode: full-refresh
           |  primary_key: [id]
           |""".stripMargin
      val dir = java.nio.file.Files.createTempDirectory("cql-task").toString
      TaskConfig.run(spark, yaml, dir)
      TaskConfig.run(spark, yaml, dir) // rerun: truncate + reload
      val rows = srv.rowsOf("ks", "out")
      assert(rows.size == 8)
      assert(rows.map(_.head.asInstanceOf[Long]).sorted == (1L to 8L))
    } finally srv.close()
  }

  test("task yaml: wire target honors pre_sql/post_sql hooks and the " +
      "ignore_existing guard (parity with the JDBC write path)") {
    import graft.repl.TaskConfig
    val srv = new LoopbackCql
    try {
      val cols = Seq("id" -> TBigint, "name" -> TVarchar)
      srv.define("ks", "seed", cols, pk = Seq("id"))
      srv.define("ks", "out", cols, pk = Seq("id"))
      srv.define("ks", "scratch", cols, pk = Seq("id"))
      srv.load("ks", "seed", (1 to 5).map(i => Seq(i.toLong, s"n$i")))
      srv.load("ks", "out", Seq(Seq(99L, "stale")))
      srv.load("ks", "scratch", Seq(Seq(1L, "x")))
      def yaml(extra: String) =
        s"""connections:
           |  SC:
           |    type: scylla
           |    host: 127.0.0.1
           |    port: ${srv.port}
           |    keyspace: ks
           |source:
           |  conn: SC
           |  stream: seed
           |target:
           |  conn: SC
           |  object: out
           |  mode: incremental
           |  options:
           |$extra
           |""".stripMargin
      val dir = java.nio.file.Files.createTempDirectory("cql-hooks").toString
      // pre_sql clears the stale row BEFORE the write (append mode would
      // otherwise keep it); post_sql observably fires after
      TaskConfig.run(spark, yaml(
        """    pre_sql: "TRUNCATE ks.out"
          |    post_sql: "TRUNCATE ks.scratch"""".stripMargin), dir)
      val outRows = srv.rowsOf("ks", "out")
      assert(outRows.size == 5)
      assert(!outRows.exists(_.head == 99L))
      assert(srv.rowsOf("ks", "scratch").isEmpty)
      // ignore_existing: a non-empty wire target is left untouched
      val n = TaskConfig.run(spark, yaml(
        "    ignore_existing: true"), dir)
      assert(n == 5L) // the existing count, not a rewrite
      assert(srv.rowsOf("ks", "out").size == 5)
    } finally srv.close()
  }
}
