package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.BigQueryApi

/** BigQuery REST source over a loopback server: submit, incomplete-job
  * polling, pageToken paging, and f/v cell type mapping. */
class BigQueryApiSpec extends AnyFunSuite with SparkSuite {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private class FakeBq {
    var polls = 0
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    private def schemaJson = {
      val schema = mapper.createObjectNode()
      val fields = schema.putArray("fields")
      Seq(("id", "INTEGER"), ("name", "STRING"), ("score", "FLOAT"),
        ("ok", "BOOLEAN"), ("amt", "NUMERIC"), ("ts", "TIMESTAMP"),
        ("d", "DATE")).foreach { case (n, t) =>
        fields.addObject().put("name", n).put("type", t)
      }
      schema
    }
    private def rowsJson(lo: Int, hi: Int) = {
      val rows = mapper.createArrayNode()
      (lo until hi).foreach { i =>
        val f = rows.addObject().putArray("f")
        def v(s: String) = f.addObject().put("v", s)
        v(i.toString); v(s"n$i"); v((i * 0.5).toString)
        v((i % 2 == 0).toString); v(s"$i.250000000")
        v("1.7000000001234E9"); v("2024-02-0" + ((i % 9) + 1))
      }
      rows
    }
    server.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
      try {
        val path = ex.getRequestURI.getPath
        val query = Option(ex.getRequestURI.getQuery).getOrElse("")
        val json = mapper.createObjectNode()
        json.putObject("jobReference").put("jobId", "j1")
        if (ex.getRequestMethod == "POST") {
          // submitted but not complete yet: forces a poll
          json.put("jobComplete", false)
        } else if (!query.contains("pageToken")) {
          polls += 1
          json.put("jobComplete", true)
          json.set[com.fasterxml.jackson.databind.JsonNode](
            "schema", schemaJson)
          json.set[com.fasterxml.jackson.databind.JsonNode](
            "rows", rowsJson(1, 4))
          json.put("pageToken", "p2")
        } else {
          json.put("jobComplete", true)
          json.set[com.fasterxml.jackson.databind.JsonNode](
            "schema", schemaJson)
          json.set[com.fasterxml.jackson.databind.JsonNode](
            "rows", rowsJson(4, 6))
        }
        val bytes = mapper.writeValueAsString(json).getBytes("UTF-8")
        ex.sendResponseHeaders(200, bytes.length.toLong)
        ex.getResponseBody.write(bytes)
      } finally ex.close()
    })
    server.start()
    def conn: BigQueryApi.Conn = BigQueryApi.Conn("proj1",
      token = () => "tok",
      baseUrl = s"http://127.0.0.1:${server.getAddress.getPort}")
    def stop(): Unit = server.stop(0)
  }

  test("submit + poll + page with schema-typed cells") {
    val fake = new FakeBq
    try {
      val df = BigQueryApi.read(spark, fake.conn, "SELECT * FROM t")
      assert(df.count() == 5)
      assert(fake.polls >= 1, "incomplete job must be polled")
      assert(df.schema("id").dataType == org.apache.spark.sql.types.LongType)
      assert(df.schema("amt").dataType ==
        org.apache.spark.sql.types.DecimalType(38, 9))
      assert(df.schema("ts").dataType ==
        org.apache.spark.sql.types.TimestampType)
      val r = df.orderBy("id").collect()
      assert(r.map(_.getLong(0)).toSeq == (1L to 5L))
      assert(r.head.getAs[java.math.BigDecimal]("amt")
        .compareTo(new java.math.BigDecimal("1.25")) == 0)
      // epoch-seconds (scientific notation) round to the right instant
      assert(r.head.getAs[java.sql.Timestamp]("ts").getTime == 1700000000123L)
      assert(r.head.getAs[java.sql.Date]("d").toString == "2024-02-02")
    } finally fake.stop()
  }

  test("result pages spill to rotating JSONL staging (bounded residency)") {
    val fake = new FakeBq
    try {
      val stage = java.nio.file.Files.createTempDirectory("bq-stage")
      val df = BigQueryApi.read(spark, fake.conn, "SELECT * FROM t",
        spill = graft.sources.Spill.Config(
          partBytes = 32, dir = Some(stage.toString)))
      assert(df.count() == 5)
      val parts = collection.mutable.ArrayBuffer[String]()
      java.nio.file.Files.walk(stage).iterator().forEachRemaining(p =>
        if (p.toString.endsWith(".jsonl")) parts += p.toString)
      assert(parts.size >= 2, s"expected part rotation, got $parts")
    } finally fake.stop()
  }
}
