package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Elastic

/** Elasticsearch source over a loopback server implementing the sliced
  * scroll protocol: each slice pages independently, incremental/backfill
  * range bodies filter, and the bulk encoder emits the NDJSON wire form.
  */
class ElasticSpec extends AnyFunSuite with SparkSuite {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Loopback ES: docs per index; _search honors slice{id,max} (docs
    * partitioned by idx % max), size paging via scroll ids; range query
    * on a long field filters. */
  private class FakeEs(docs: Seq[String]) {
    // scrollId -> remaining pages
    val scrolls = new java.util.concurrent.ConcurrentHashMap[
      String, java.util.ArrayDeque[Seq[String]]]()
    val nextScroll = new java.util.concurrent.atomic.AtomicInteger(0)
    val clearedScrolls =
      java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
      try {
        val path = ex.getRequestURI.getPath
        val body = mapper.readTree(ex.getRequestBody.readAllBytes())
        def respond(hits: Seq[String], scrollId: String): Unit = {
          val json = mapper.createObjectNode()
          json.put("_scroll_id", scrollId)
          val arr = json.putObject("hits").putArray("hits")
          hits.foreach { d =>
            arr.addObject().set[com.fasterxml.jackson.databind.JsonNode](
              "_source", mapper.readTree(d))
          }
          val bytes = mapper.writeValueAsString(json).getBytes("UTF-8")
          ex.sendResponseHeaders(200, bytes.length.toLong)
          ex.getResponseBody.write(bytes)
        }
        if (path == "/_search/scroll" &&
            ex.getRequestMethod == "DELETE") {
          // clear-scroll: body carries {"scroll_id":[ids...]}
          val ids = body.path("scroll_id")
          (0 until ids.size()).foreach(i =>
            clearedScrolls.add(ids.get(i).asText()))
          val bytes = """{"succeeded":true}""".getBytes("UTF-8")
          ex.sendResponseHeaders(200, bytes.length.toLong)
          ex.getResponseBody.write(bytes)
        } else if (path == "/_search/scroll") {
          val sid = body.path("scroll_id").asText()
          val q = scrolls.get(sid)
          val page = Option(if (q == null) null else q.pollFirst())
            .getOrElse(Seq.empty)
          respond(page, sid)
        } else {
          // /{index}/_search
          val sliceId = body.path("slice").path("id").asInt(0)
          val sliceMax = body.path("slice").path("max").asInt(1)
          val size = body.path("size").asInt(1000)
          val range = body.path("query").path("range")
          val filtered =
            if (range.isMissingNode || range.isEmpty) docs
            else {
              val field = range.fieldNames().next()
              val spec = range.path(field)
              docs.filter { d =>
                val v = mapper.readTree(d).path(field).asLong()
                (spec.path("gt").isMissingNode || v > spec.path("gt").asText().toLong) &&
                (spec.path("gte").isMissingNode || v >= spec.path("gte").asText().toLong) &&
                (spec.path("lte").isMissingNode || v <= spec.path("lte").asText().toLong)
              }
            }
          val mine = filtered.zipWithIndex
            .filter(_._2 % sliceMax == sliceId).map(_._1)
          val pages = mine.grouped(size).toSeq
          val sid = s"scroll-${nextScroll.incrementAndGet()}"
          val q = new java.util.ArrayDeque[Seq[String]]()
          pages.drop(1).foreach(q.addLast)
          scrolls.put(sid, q)
          respond(pages.headOption.getOrElse(Seq.empty), sid)
        }
      } finally ex.close()
    })
    server.start()
    def conn: Elastic.Conn =
      Elastic.Conn(s"http://127.0.0.1:${server.getAddress.getPort}")
    def stop(): Unit = server.stop(0)
  }

  private def docs(n: Int): Seq[String] =
    (1 to n).map(i => s"""{"id":$i,"name":"doc$i","score":${i * 1.5}}""")

  test("sliced scroll reads every doc exactly once, typed") {
    val fake = new FakeEs(docs(97))
    try {
      val df = Elastic.read(spark, fake.conn, "idx",
        slices = 4, pageSize = 10)
      assert(df.count() == 97)
      assert(df.schema("id").dataType ==
        org.apache.spark.sql.types.LongType)
      val got = df.orderBy("id").collect().map(_.getAs[Long]("id"))
      assert(got.toSeq == (1L to 97L))
      // Spill.typed persists the docs across the inference pass and both
      // actions above, so each slice opened EXACTLY one scroll: 4 total
      assert(fake.nextScroll.get() == 4, s"got ${fake.nextScroll.get()}")
      // and every scroll context was released server-side (clear-scroll
      // on exhaustion — contexts must not pin the keep-alive window)
      assert(fake.clearedScrolls.size() == 4,
        s"cleared ${fake.clearedScrolls}")
    } finally fake.stop()
  }

  test("incremental and backfill range bodies filter server-side") {
    val fake = new FakeEs(docs(50))
    try {
      val inc = Elastic.read(spark, fake.conn, "idx",
        Elastic.queryBody(Some("id"), Some("40")), slices = 2, pageSize = 7)
      assert(inc.count() == 10)
      val bf = Elastic.read(spark, fake.conn, "idx",
        Elastic.queryBody(Some("id"), None, Some(("10", "19"))),
        slices = 2, pageSize = 7)
      assert(bf.count() == 10)
    } finally fake.stop()
  }

  test("bulk encoder emits action+doc NDJSON with optional ids") {
    val out = Elastic.bulkEncode(
      Seq("""{"a":1}""", """{"a":2}"""), "idx", Seq("x", "y"))
    val lines = out.split("\n")
    assert(lines.length == 4)
    assert(lines(0) == """{"index":{"_index":"idx","_id":"x"}}""")
    assert(lines(1) == """{"a":1}""")
    assert(lines(2) == """{"index":{"_index":"idx","_id":"y"}}""")
    val noIds = Elastic.bulkEncode(Seq("""{"a":1}"""), "idx")
    assert(noIds.startsWith("""{"index":{"_index":"idx"}}"""))
  }

  test("bulkWrite posts per-partition NDJSON chunks; deleteIndex clears") {
    val bulks = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var deleted = ""
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
      val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
      val resp =
        if (ex.getRequestMethod == "DELETE") {
          deleted = ex.getRequestURI.getPath; """{"acknowledged":true}"""
        } else { bulks.add(body); """{"errors":false,"items":[]}""" }
      val bytes = resp.getBytes("UTF-8")
      ex.sendResponseHeaders(200, bytes.length.toLong)
      try ex.getResponseBody.write(bytes) finally ex.close()
    })
    server.start()
    try {
      import spark.implicits._
      val conn = Elastic.Conn(s"http://127.0.0.1:${server.getAddress.getPort}")
      Elastic.deleteIndex(conn, "docs")
      assert(deleted == "/docs")
      val df = (1 to 10).map(i => (i.toLong, s"v$i")).toDF("id", "v")
        .repartition(3)
      assert(Elastic.bulkWrite(df, conn, "docs", idCol = Some("id"),
        chunkRows = 2) == 10L)
      val lines = bulks.toArray.map(_.toString).flatMap(_.split("\n"))
      val actions = lines.filter(_.contains("\"_index\":\"docs\""))
      assert(actions.length == 10)
      // every action routes _id from the key column
      assert(actions.forall(_.matches(""".*"_id":"\d+".*""")))
      // chunkRows=2 bounds each POST to at most 2 docs (4 lines)
      assert(bulks.toArray.forall(
        _.toString.split("\n").length <= 4))
    } finally server.stop(0)
  }
}
