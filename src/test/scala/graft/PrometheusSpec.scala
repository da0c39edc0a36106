package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Prometheus

/** Prometheus source over a loopback query_range endpoint: option-suffix
  * parsing with now-relative ranges and d/w/M folding, matrix flattening
  * to label+ts+value rows, and the time-chunked distributed read (no
  * double-counted samples across chunk boundaries).
  */
class PrometheusSpec extends AnyFunSuite with SparkSuite {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Loopback: two series (job=a/b), one sample per 60 s over the window;
    * value = ts offset. Honors start/end/step query params. */
  private class FakeProm(t0: Long, samples: Int) {
    val seenRanges = collection.mutable.ArrayBuffer[(Long, Long)]()
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
      try {
        val q = ex.getRequestURI.getQuery.split("&")
          .map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap
        val start = q("start").toLong
        val end = q("end").toLong
        synchronized { seenRanges += ((start, end)) }
        val json = mapper.createObjectNode()
        json.put("status", "success")
        val result = json.putObject("data").putArray("result")
        Seq("a", "b").foreach { job =>
          val s = result.addObject()
          s.putObject("metric").put("job", job).put("__name__", "m")
          val vals = s.putArray("values")
          (0 until samples).foreach { i =>
            val ts = t0 + i * 60L
            if (ts >= start && ts <= end) {
              val pair = vals.addArray()
              pair.add(ts)
              pair.add((i * 10).toString)
            }
          }
        }
        val bytes = mapper.writeValueAsString(json).getBytes("UTF-8")
        ex.sendResponseHeaders(200, bytes.length.toLong)
        ex.getResponseBody.write(bytes)
      } finally ex.close()
    })
    server.start()
    def conn: Prometheus.Conn =
      Prometheus.Conn(s"http://127.0.0.1:${server.getAddress.getPort}")
    def stop(): Unit = server.stop(0)
  }

  test("query option suffix parses now-relative ranges with d/w folding") {
    val now = 1700000000L
    val (expr, start, end, step) = Prometheus.parseQuery(
      """rate(http_requests_total[5m])#{"start":"now-2d","end":"now","step":"5m"}""",
      now)
    assert(expr == "rate(http_requests_total[5m])")
    assert(start == now - 2 * 24 * 3600)
    assert(end == now)
    assert(step == "5m")
    val (_, s2, e2, _) = Prometheus.parseQuery("up", now)
    assert(s2 == now - 30L * 24 * 3600 && e2 == now)
    assert(Prometheus.parseDuration("1w").toHours == 168)
  }

  test("chunked read flattens the matrix with no duplicate samples") {
    val t0 = 1700000000L
    val fake = new FakeProm(t0, samples = 30) // 30 min of data, 2 series
    try {
      val df = Prometheus.read(spark, fake.conn,
        s"""m#{"start":"$t0","end":"${t0 + 30 * 60}","step":"1m"}""",
        chunks = 4, nowEpoch = t0 + 30 * 60)
      // 2 series x 30 samples; chunk-boundary samples must appear once
      assert(df.count() == 60)
      // Spill.typed persists the fetched lines across the inference pass
      // and the actions, so each of the 4 half-open windows is queried
      // EXACTLY once
      assert(fake.seenRanges.toSet.size == 4)
      assert(fake.seenRanges.size == 4, s"got ${fake.seenRanges}")
      assert(df.columns.sorted.toSeq == Seq("__name__", "job", "ts", "value"))
      val sums = df.groupBy("job")
        .sum("value").collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(sums("a") == (0 until 30).map(_ * 10).sum.toDouble)
      assert(sums("a") == sums("b"))
    } finally fake.stop()
  }
}
