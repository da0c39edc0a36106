package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.DatabricksSql

/** Databricks SQL Statement API over a loopback endpoint: submit, poll,
  * executor-parallel chunk fetch, typed manifest, failure surfaces. */
class DatabricksSqlSpec extends AnyFunSuite with SparkSuite {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private class FakeDbx(fail: Boolean = false) {
    var polls = 0
    val chunksServed =
      java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    var seenAuth = ""
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
      try {
        seenAuth = Option(
          ex.getRequestHeaders.getFirst("Authorization")).getOrElse("")
        val path = ex.getRequestURI.getPath
        val json = mapper.createObjectNode()
        if (path.endsWith("/sql/statements") &&
            ex.getRequestMethod == "POST") {
          json.put("statement_id", "st1")
          json.putObject("status").put("state", "PENDING")
        } else if (path.contains("/result/chunks/")) {
          val c = path.split("/").last.toInt
          chunksServed.add(c)
          val data = json.putArray("data_array")
          val a = data.addArray()
          a.add((c * 10).toString); a.add(s"c$c"); a.add("2024-03-01")
        } else {
          polls += 1
          if (fail && polls >= 2) {
            json.put("statement_id", "st1")
            val st = json.putObject("status")
            st.put("state", "FAILED")
            st.putObject("error").put("message", "TABLE_OR_VIEW_NOT_FOUND")
          } else if (polls == 1) {
            json.put("statement_id", "st1")
            json.putObject("status").put("state", "RUNNING")
          } else {
            json.put("statement_id", "st1")
            json.putObject("status").put("state", "SUCCEEDED")
            val man = json.putObject("manifest")
            man.put("total_chunk_count", 3)
            val cols = man.putObject("schema").putArray("columns")
            Seq(("id", "LONG"), ("name", "STRING"), ("d", "DATE"))
              .foreach { case (n, t) =>
                cols.addObject().put("name", n).put("type_name", t) }
            val data = json.putObject("result").putArray("data_array")
            val a = data.addArray()
            a.add("1"); a.add("c0"); a.add("2024-03-01")
          }
        }
        val bytes = mapper.writeValueAsString(json).getBytes("UTF-8")
        ex.sendResponseHeaders(200, bytes.length.toLong)
        ex.getResponseBody.write(bytes)
      } finally ex.close()
    })
    server.start()
    def conn: DatabricksSql.Conn = DatabricksSql.Conn(
      s"http://127.0.0.1:${server.getAddress.getPort}", token = "dapi-x",
      warehouseId = "wh1")
    def stop(): Unit = server.stop(0)
  }

  test("submit + poll + executor chunk fetch with manifest types") {
    val fake = new FakeDbx()
    try {
      val df = DatabricksSql.read(spark, fake.conn, "SELECT * FROM t",
        pollMs = 10)
      assert(df.count() == 3) // chunk 0 + chunks 1, 2
      assert(fake.chunksServed.contains(1) && fake.chunksServed.contains(2))
      assert(!fake.chunksServed.contains(0))
      assert(fake.seenAuth == "Bearer dapi-x")
      assert(df.schema("id").dataType == org.apache.spark.sql.types.LongType)
      assert(df.schema("d").dataType == org.apache.spark.sql.types.DateType)
      val r = df.orderBy("id").collect()
      assert(r.map(_.getLong(0)).toSeq == Seq(1L, 10L, 20L))
    } finally fake.stop()
  }

  test("FAILED statements raise with the API's error message") {
    val fake = new FakeDbx(fail = true)
    try {
      val e = intercept[java.sql.SQLException] {
        DatabricksSql.read(spark, fake.conn, "SELECT * FROM missing",
          pollMs = 10)
      }
      assert(e.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND"))
    } finally fake.stop()
  }
}
