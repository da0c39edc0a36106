package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.D1

/** Cloudflare D1 over a loopback /raw endpoint: columnar response
  * re-keying, bearer auth, SQL error surfaces. */
class D1Spec extends AnyFunSuite with SparkSuite {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private class FakeD1(fail: Boolean = false) {
    var seenAuth = ""
    var seenSql = ""
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
      try {
        seenAuth = Option(
          ex.getRequestHeaders.getFirst("Authorization")).getOrElse("")
        seenSql = mapper.readTree(ex.getRequestBody.readAllBytes())
          .path("sql").asText()
        val resp =
          if (fail)
            """{"result":[],"success":false,"errors":[{"code":7500,"message":"no such table: missing"}]}"""
          else
            """{"result":[{"results":{"columns":["id","name","score"],
              |"rows":[[1,"a",1.5],[2,"b",2.5],[3,null,3.5]]},
              |"success":true}],"errors":[],"success":true}""".stripMargin
        val bytes = resp.getBytes("UTF-8")
        ex.sendResponseHeaders(200, bytes.length.toLong)
        ex.getResponseBody.write(bytes)
      } finally ex.close()
    })
    server.start()
    def conn: D1.Conn = D1.Conn("acct1", "db1", "tok-1",
      baseUrl = s"http://127.0.0.1:${server.getAddress.getPort}")
    def stop(): Unit = server.stop(0)
  }

  test("raw response re-keys columnar rows into a typed frame") {
    val fake = new FakeD1()
    try {
      val df = D1.read(spark, fake.conn, "SELECT * FROM t")
      assert(df.count() == 3)
      assert(df.schema("id").dataType == org.apache.spark.sql.types.LongType)
      assert(df.schema("score").dataType ==
        org.apache.spark.sql.types.DoubleType)
      val r = df.orderBy("id").collect()
      assert(r.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
      assert(r(2).isNullAt(r(2).fieldIndex("name")))
      assert(fake.seenAuth == "Bearer tok-1")
      assert(fake.seenSql == "SELECT * FROM t")
    } finally fake.stop()
  }

  test("api-level failure raises with d1's error payload") {
    val fake = new FakeD1(fail = true)
    try {
      val e = intercept[java.sql.SQLException] {
        D1.read(spark, fake.conn, "SELECT * FROM missing")
      }
      assert(e.getMessage.contains("no such table"))
    } finally fake.stop()
  }
}
