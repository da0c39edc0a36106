package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.api.Auth
import graft.sources.Athena

/** Athena JSON-RPC lifecycle over a loopback endpoint: SigV4 signatures
  * recomputed and verified server-side, QUEUED→RUNNING→SUCCEEDED
  * polling, header-row drop, NextToken paging, and failure surfacing. */
class AthenaSpec extends AnyFunSuite with SparkSuite {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private val fixedClock = () => java.time.Instant.parse("2026-02-01T10:00:00Z")

  private class FakeAthena(failQuery: Boolean = false) {
    var stateCalls = 0
    val sigFailures = collection.mutable.ArrayBuffer[String]()
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
      try {
        val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
        val target = ex.getRequestHeaders.getFirst("x-amz-target")
        // recompute the SigV4 signature with the shared secret
        val amzDate = ex.getRequestHeaders.getFirst("x-amz-date")
        val auth = ex.getRequestHeaders.getFirst("Authorization")
        val host = s"127.0.0.1:${server.getAddress.getPort}"
        val sha = java.security.MessageDigest.getInstance("SHA-256")
          .digest(body.getBytes("UTF-8")).map("%02x".format(_)).mkString
        val (wantSig, _) = Auth.sigV4Signature(
          Auth.SigV4Config("athena", "us-east-1", "AKIATEST", "secret123"),
          "POST", host, "/", Map.empty,
          Map("content-type" -> "application/x-amz-json-1.1",
            "x-amz-target" -> target),
          sha, amzDate)
        if (!auth.endsWith(s"Signature=$wantSig"))
          sigFailures += s"got $auth want ...$wantSig"
        val resp: String = target.split("\\.").last match {
          case "StartQueryExecution" =>
            """{"QueryExecutionId":"qe-1"}"""
          case "GetQueryExecution" =>
            stateCalls += 1
            val st =
              if (failQuery && stateCalls >= 2) "FAILED"
              else if (stateCalls == 1) "RUNNING"
              else "SUCCEEDED"
            s"""{"QueryExecution":{"Status":{"State":"$st",
               |"StateChangeReason":"SYNTAX_ERROR: line 1"}}}""".stripMargin
          case "GetQueryResults" =>
            val req = mapper.readTree(body)
            val page2 = req.path("NextToken").asText("").nonEmpty
            val json = mapper.createObjectNode()
            val rs = json.putObject("ResultSet")
            val ci = rs.putObject("ResultSetMetadata").putArray("ColumnInfo")
            Seq(("id", "bigint"), ("name", "varchar"), ("amt", "double"),
              ("ts", "timestamp")).foreach { case (n, t) =>
                ci.addObject().put("Name", n).put("Type", t) }
            val rows = rs.putArray("Rows")
            def addRow(vals: Seq[String]): Unit = {
              val d = rows.addObject().putArray("Data")
              vals.foreach(v => d.addObject().put("VarCharValue", v))
            }
            if (!page2) {
              addRow(Seq("id", "name", "amt", "ts")) // Athena header row
              addRow(Seq("1", "a", "1.5", "2024-02-01 10:30:00.25"))
              addRow(Seq("2", "b", "2.5", "2024-02-02 10:30:00.25"))
              json.put("NextToken", "t2")
            } else {
              addRow(Seq("3", "c", "3.5", "2024-02-03 10:30:00.25"))
            }
            mapper.writeValueAsString(json)
        }
        val bytes = resp.getBytes("UTF-8")
        ex.sendResponseHeaders(200, bytes.length.toLong)
        ex.getResponseBody.write(bytes)
      } finally ex.close()
    })
    server.start()
    def conn: Athena.Conn = Athena.Conn("us-east-1", "AKIATEST", "secret123",
      baseUrl = s"http://127.0.0.1:${server.getAddress.getPort}",
      clock = fixedClock, pollMs = 10)
    def stop(): Unit = server.stop(0)
  }

  test("signed lifecycle: poll to success, drop header row, page results") {
    val fake = new FakeAthena()
    try {
      val df = Athena.read(spark, fake.conn, "SELECT * FROM t")
      assert(fake.sigFailures.isEmpty, fake.sigFailures.headOption)
      assert(fake.stateCalls >= 2, "RUNNING state must be polled through")
      assert(df.count() == 3)
      assert(df.schema("id").dataType == org.apache.spark.sql.types.LongType)
      val r = df.orderBy("id").collect()
      assert(r.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
      assert(r.map(_.getDouble(2)).toSeq == Seq(1.5, 2.5, 3.5))
      assert(df.schema("ts").dataType ==
        org.apache.spark.sql.types.TimestampType)
      assert(df.orderBy("id")
        .selectExpr("date_format(ts, 'yyyy-MM-dd HH:mm:ss.SS')")
        .head().getString(0) == "2024-02-01 10:30:00.25")
    } finally fake.stop()
  }

  test("result pages spill to rotating JSONL staging (bounded residency)") {
    val fake = new FakeAthena()
    try {
      val stage = java.nio.file.Files.createTempDirectory("athena-stage")
      val df = Athena.read(spark, fake.conn, "SELECT * FROM t",
        spill = graft.sources.Spill.Config(
          partBytes = 16, dir = Some(stage.toString)))
      assert(df.count() == 3)
      val parts = collection.mutable.ArrayBuffer[String]()
      java.nio.file.Files.walk(stage).iterator().forEachRemaining(p =>
        if (p.toString.endsWith(".jsonl")) parts += p.toString)
      assert(parts.size >= 2, s"expected part rotation, got $parts")
    } finally fake.stop()
  }

  test("FAILED state raises with the state-change reason") {
    val fake = new FakeAthena(failQuery = true)
    try {
      val e = intercept[java.sql.SQLException] {
        Athena.read(spark, fake.conn, "SELECT bad FROM t")
      }
      assert(e.getMessage.contains("SYNTAX_ERROR"))
    } finally fake.stop()
  }
}
