package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Trino

/** Trino client-protocol source over a loopback coordinator: statement
  * POST, nextUri paging, typed columns, and protocol error surfaces.
  */
class TrinoSpec extends AnyFunSuite with SparkSuite {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Loopback coordinator: POST /v1/statement starts a 3-page cursor;
    * GET /v1/statement/q1/{n} pages through. Records the trino headers.
    */
  private class FakeTrino(fail: Boolean = false) {
    val seenHeaders = collection.mutable.Map[String, String]()
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    private def base = s"http://127.0.0.1:${server.getAddress.getPort}"
    server.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
      try {
        Seq("X-Trino-User", "X-Trino-Catalog", "X-Trino-Schema").foreach { h =>
          Option(ex.getRequestHeaders.getFirst(h))
            .foreach(seenHeaders(h) = _)
        }
        val path = ex.getRequestURI.getPath
        val page =
          if (path == "/v1/statement") 0
          else path.split("/").last.toInt
        val json = mapper.createObjectNode()
        json.put("id", "q1")
        if (fail) {
          val e = json.putObject("error")
          e.put("message", "line 1:8: Column 'nope' cannot be resolved")
          e.put("errorName", "COLUMN_NOT_FOUND")
        } else {
          if (page >= 1) {
            val cols = json.putArray("columns")
            Seq(("id", "bigint"), ("name", "varchar(25)"),
              ("score", "double"), ("ok", "boolean"),
              ("d", "date"), ("amt", "decimal(10,2)"),
              ("ts", "timestamp(3)")).foreach {
              case (n, t) =>
                cols.addObject().put("name", n).put("type", t)
            }
            val data = json.putArray("data")
            val lo = (page - 1) * 2 + 1
            (lo until math.min(lo + 2, 6)).foreach { i =>
              val r = data.addArray()
              r.add(i.toLong); r.add(s"row$i"); r.add(i * 1.5)
              r.add(i % 2 == 0); r.add(s"2024-01-0$i")
              if (i == 3) r.addNull() else r.add(s"$i.25")
              r.add(s"2024-01-0$i 10:30:00.250")
            }
          }
          if (page < 3)
            json.put("nextUri", s"$base/v1/statement/q1/${page + 1}")
        }
        val bytes = mapper.writeValueAsString(json).getBytes("UTF-8")
        ex.sendResponseHeaders(200, bytes.length.toLong)
        ex.getResponseBody.write(bytes)
      } finally ex.close()
    })
    server.start()
    def conn: Trino.Conn = Trino.Conn(base, user = "tester",
      catalog = "hive", schema = "default")
    def stop(): Unit = server.stop(0)
  }

  test("statement pages through nextUri with protocol-typed columns") {
    val fake = new FakeTrino()
    try {
      val df = Trino.read(spark, fake.conn, "SELECT * FROM t")
      assert(df.count() == 5)
      assert(df.schema("id").dataType == org.apache.spark.sql.types.LongType)
      assert(df.schema("score").dataType ==
        org.apache.spark.sql.types.DoubleType)
      assert(df.schema("d").dataType == org.apache.spark.sql.types.DateType)
      assert(df.schema("amt").dataType ==
        org.apache.spark.sql.types.DecimalType(10, 2))
      val r = df.orderBy("id").collect()
      assert(r.map(_.getLong(0)).toSeq == (1L to 5L))
      assert(r.head.getString(1) == "row1")
      assert(r.head.getAs[java.math.BigDecimal]("amt")
        .compareTo(new java.math.BigDecimal("1.25")) == 0)
      // a NULL cell survives the staged roundtrip
      assert(r(2).isNullAt(r(2).fieldIndex("amt")))
      // timestamp parses from the wire's canonical render (session-tz
      // exact: formatting back yields the same string)
      assert(df.orderBy("id")
        .selectExpr("date_format(ts, 'yyyy-MM-dd HH:mm:ss.SSS')")
        .head().getString(0) == "2024-01-01 10:30:00.250")
      assert(fake.seenHeaders("X-Trino-User") == "tester")
      assert(fake.seenHeaders("X-Trino-Catalog") == "hive")
    } finally fake.stop()
  }

  test("pages stream to rotating JSONL staging (bounded driver residency)") {
    val fake = new FakeTrino()
    try {
      val stage = java.nio.file.Files.createTempDirectory("trino-stage")
      val df = Trino.read(spark, fake.conn, "SELECT * FROM t",
        spill = graft.sources.Spill.Config(
          partBytes = 64, dir = Some(stage.toString)))
      assert(df.count() == 5)
      val parts = collection.mutable.ArrayBuffer[String]()
      java.nio.file.Files.walk(stage).iterator().forEachRemaining(p =>
        if (p.toString.endsWith(".jsonl")) parts += p.toString)
      assert(parts.size >= 2, s"expected part rotation, got $parts")
    } finally fake.stop()
  }

  test("protocol errors raise with trino's message") {
    val fake = new FakeTrino(fail = true)
    try {
      val e = intercept[java.sql.SQLException] {
        Trino.read(spark, fake.conn, "SELECT nope FROM t")
      }
      assert(e.getMessage.contains("COLUMN_NOT_FOUND"))
    } finally fake.stop()
  }
}
