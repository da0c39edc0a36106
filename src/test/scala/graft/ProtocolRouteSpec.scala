package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.repl.{Connections, ProtocolRoute, TaskConfig}

/** Task-YAML `connections:` dispatch to native protocol clients — a
  * connection of a protocol kind with an explicit `http_url:` routes to
  * the wire client (ClickHouse HTTP here), not the JDBC template; kinds
  * without the endpoint keep their JDBC path (connection.go type routing;
  * database_clickhouse.go / database_d1.go native surfaces).
  */
class ProtocolRouteSpec extends AnyFunSuite with SparkSuite {

  private def spec(kind: String, props: (String, String)*) =
    Connections.ConnSpec("T", kind, props.toMap)

  test("applies: protocol kinds gate on http_url; d1 is unconditional") {
    assert(!ProtocolRoute.applies(spec("clickhouse", "host" -> "h")))
    assert(ProtocolRoute.applies(
      spec("clickhouse", "http_url" -> "http://h:8123")))
    assert(ProtocolRoute.applies(spec("d1", "account_id" -> "a")))
    assert(ProtocolRoute.applies(
      spec("elasticsearch", "http_url" -> "http://h:9200")))
    assert(ProtocolRoute.applies(
      spec("prometheus", "http_url" -> "http://h:9090")))
    // non-protocol kinds never route here
    assert(!ProtocolRoute.applies(spec("postgres", "http_url" -> "x")))
    // snowflake/databricks/trino/bigquery/athena without http_url keep JDBC
    Seq("snowflake", "databricks", "trino", "bigquery", "athena").foreach {
      k => assert(!ProtocolRoute.applies(spec(k, "host" -> "h")))
    }
  }

  test("clickhouse http_url conn: table stream reads via the HTTP client " +
      "from readSource") {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    @volatile var seenSql = ""
    server.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
      seenSql = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
      val bytes = "{\"id\":1,\"v\":\"a\"}\n{\"id\":2,\"v\":\"b\"}\n"
        .getBytes("UTF-8")
      ex.sendResponseHeaders(200, bytes.length.toLong)
      try ex.getResponseBody.write(bytes) finally ex.close()
    })
    server.start()
    try {
      val conns = Connections.parse(
        s"""connections:
           |  CH:
           |    type: clickhouse
           |    http_url: http://127.0.0.1:${server.getAddress.getPort}
           |""".stripMargin)
      val df = TaskConfig.readSource(spark,
        TaskConfig.Source(stream = "t1", conn = Some("CH")), "/tmp", conns)
      val got = df.orderBy("id").collect().map(r =>
        (r.getAs[Number]("id").longValue(), r.getAs[String]("v"))).toSeq
      assert(got == Seq((1L, "a"), (2L, "b")))
      // table name wrapped as SELECT * (wire format suffix appended)
      assert(seenSql.startsWith("SELECT * FROM t1"))
    } finally server.stop(0)
  }

  test("clickhouse conn with partition_column routes the table stream to " +
      "the executor-parallel cursors") {
    val ch = new graft.sources.LoopbackClickHouse()
    try {
      ch.define("big", Seq("id" -> ch.Num, "v" -> ch.Txt))
      ch.load("big", (1 to 90).map(i => Seq(i, s"v$i")))
      val conns = Connections.parse(
        s"""connections:
           |  CH:
           |    type: clickhouse
           |    http_url: http://127.0.0.1:${ch.port}
           |    partition_column: id
           |    splits: "4"
           |""".stripMargin)
      ch.statements.set(0)
      val df = TaskConfig.readSource(spark,
        TaskConfig.Source(stream = "big", conn = Some("CH")), "/tmp", conns)
      assert(df.count() == 90)
      assert(df.agg(org.apache.spark.sql.functions.sum("id")).head.getLong(0)
        == (1 to 90).sum.toLong)
      // one min/max probe + one WHERE-bounded cursor per chunk, and —
      // because Spill.typed persists the fetched lines across the
      // inference + data scans — each cursor ran exactly once
      assert(ch.statements.get == 5, s"statements=${ch.statements.get}")
      // a SQL-text stream on the same conn keeps the single staged cursor
      ch.statements.set(0)
      val sqlDf = TaskConfig.readSource(spark,
        TaskConfig.Source(stream = "select id from big", conn = Some("CH")),
        "/tmp", conns)
      assert(sqlDf.count() == 90)
      assert(ch.statements.get == 1, s"statements=${ch.statements.get}")
    } finally ch.close()
  }

  test("elasticsearch http_url conn: stream is the index, sliced scroll") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
      val path = ex.getRequestURI.getPath
      val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
      val json = mapper.createObjectNode()
      if (path.endsWith("/_search") && !path.contains("/scroll")) {
        // first page of a slice: slice 0 gets both docs, others empty
        val sliceId = "\"id\"\\s*:\\s*(\\d+)".r
          .findFirstMatchIn(body).map(_.group(1).toInt).getOrElse(0)
        json.put("_scroll_id", s"sc$sliceId")
        val hits = json.putObject("hits").putArray("hits")
        if (sliceId == 0) Seq(1, 2).foreach { i =>
          hits.addObject().putObject("_source")
            .put("id", i).put("v", s"d$i")
        }
      } else {
        json.put("_scroll_id", "done")
        json.putObject("hits").putArray("hits") // empty → slice drained
      }
      val bytes = mapper.writeValueAsString(json).getBytes("UTF-8")
      ex.sendResponseHeaders(200, bytes.length.toLong)
      try ex.getResponseBody.write(bytes) finally ex.close()
    })
    server.start()
    try {
      val conns = Connections.parse(
        s"""connections:
           |  ES:
           |    type: elasticsearch
           |    http_url: http://127.0.0.1:${server.getAddress.getPort}
           |    slices: 2
           |""".stripMargin)
      val df = TaskConfig.readSource(spark,
        TaskConfig.Source(stream = "docs", conn = Some("ES")), "/tmp", conns)
      val got = df.orderBy("id").collect()
        .map(r => r.getAs[Number]("id").longValue()).toSeq
      assert(got == Seq(1L, 2L))
    } finally server.stop(0)
  }

  test("mongodb conn routes unconditionally; stream where is a server-side " +
      "JSON filter (r.54.mongo_filter semantics)") {
    import graft.sources.{Bson, LoopbackMongo}
    assert(ProtocolRoute.applies(spec("mongodb", "host" -> "h")))
    val srv = new LoopbackMongo
    try {
      srv.put("test", "t1k", (1 to 20).map(i => Bson.BDoc(
        "_id" -> Bson.ObjectId.fromBigInt(BigInt(i)), "code" -> i)))
      val conns = Connections.parse(
        s"""connections:
           |  MG:
           |    type: mongodb
           |    host: 127.0.0.1
           |    port: ${srv.port}
           |    database: test
           |""".stripMargin)
      val df = TaskConfig.readSource(spark,
        TaskConfig.Source(stream = "t1k", conn = Some("MG"),
          where = Some("""{ "code": {"$lte": 9}}""")), "/tmp", conns)
      assert(df.select("code").collect().map(_.getLong(0)).sorted.toSeq ==
        (1L to 9L))
      // ObjectId range where (r.54.mongo_objectid_filter): hex strings
      // convert to ObjectIds before comparison
      val lo = Bson.ObjectId.fromBigInt(BigInt(5)).hex
      val hi = Bson.ObjectId.fromBigInt(BigInt(8)).hex
      val df2 = TaskConfig.readSource(spark,
        TaskConfig.Source(stream = "t1k", conn = Some("MG"),
          where = Some(s"""{"_id": {"$$gte": "$lo", "$$lte": "$hi"}}""")),
        "/tmp", conns)
      assert(df2.count() == 4)
      // far-future ISODate matches nothing (r.54.mongo_isodate_filter):
      // ISODate("...") parses to a real instant, not null
      val df3 = TaskConfig.readSource(spark,
        TaskConfig.Source(stream = "t1k", conn = Some("MG"),
          where = Some(
            """{"code": {"$gte": ISODate("3000-01-01T00:00:00.000Z")}}""")),
        "/tmp", conns)
      assert(df3.count() == 0)
    } finally srv.close()
  }

  test("mongodb target conn direct-inserts; full-refresh drops first " +
      "(task_run_write.go writeDirectly)") {
    import graft.sources.{Bson, LoopbackMongo}
    val srv = new LoopbackMongo
    try {
      srv.put("test", "seed", (1 to 6).map(i => Bson.BDoc(
        "_id" -> i, "k" -> i, "v" -> s"row$i")))
      val dir = java.nio.file.Files.createTempDirectory("proto-write")
        .toString
      def yaml(mode: String) =
        s"""connections:
           |  MG:
           |    type: mongodb
           |    host: 127.0.0.1
           |    port: ${srv.port}
           |    database: test
           |source:
           |  conn: MG
           |  stream: seed
           |target:
           |  conn: MG
           |  object: sink
           |  mode: $mode
           |  primary_key: [k]
           |""".stripMargin
      TaskConfig.run(spark, yaml("full-refresh"), dir)
      assert(srv.docsOf("test", "sink").size == 6)
      // rerunning full-refresh drops and reloads — no duplicates
      TaskConfig.run(spark, yaml("full-refresh"), dir)
      val docs = srv.docsOf("test", "sink")
      assert(docs.size == 6)
      // _id mirrors the primary key column
      assert(docs.map(_.get("_id").get).toSet == (1 to 6).map(i =>
        i.toLong: Any).toSet)
    } finally srv.close()
  }

  test("mongodb url-shorthand conn routes through the parsed seed list") {
    import graft.sources.{Bson, LoopbackMongo}
    val srv = new LoopbackMongo
    try {
      srv.put("appdb", "c1", Seq(Bson.BDoc("_id" -> 1, "v" -> "ok")))
      // url: shorthand — kind comes from the scheme, endpoint from the
      // (single-host) seed list, database from the path
      val conns = Connections.parse(
        s"""connections:
           |  MG_URL:
           |    url: mongodb://127.0.0.1:${srv.port}/appdb
           |""".stripMargin)
      assert(conns("MG_URL").kind == "mongodb")
      val df = TaskConfig.readSource(spark,
        TaskConfig.Source(stream = "c1", conn = Some("MG_URL")), "/tmp", conns)
      assert(df.collect().head.getAs[String]("v") == "ok")
    } finally srv.close()
  }

  test("sql-text stream passes through unwrapped") {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    @volatile var seenSql = ""
    server.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
      seenSql = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
      val bytes = "{\"n\":5}\n".getBytes("UTF-8")
      ex.sendResponseHeaders(200, bytes.length.toLong)
      try ex.getResponseBody.write(bytes) finally ex.close()
    })
    server.start()
    try {
      val s = spec("clickhouse",
        "http_url" -> s"http://127.0.0.1:${server.getAddress.getPort}")
      val df = ProtocolRoute.read(spark, s, "select count(*) as n from t")
      assert(df.collect().head.getAs[Number]("n").longValue() == 5L)
      assert(seenSql.startsWith("select count(*) as n from t"))
    } finally server.stop(0)
  }

  test("bigtable http_url conn: stream is the table id, project/instance " +
      "props shape the resource path; writes route with batch_values") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def b64(x: String) = java.util.Base64.getEncoder
      .encodeToString(x.getBytes("UTF-8"))
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val paths = collection.mutable.ArrayBuffer[String]()
    val batchSizes = collection.mutable.ArrayBuffer[Int]()
    server.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
      val path = ex.getRequestURI.getPath
      this.synchronized { paths += path }
      val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
      val resp: String =
        if (path.endsWith(":sampleRowKeys")) "[]"
        else if (path.endsWith(":readRows"))
          s"""[{"chunks":[{"rowKey":"${b64("r1")}","familyName":"default",
             "qualifier":"${b64("v")}","value":"${b64("7")}",
             "commitRow":true}]}]"""
        else if (path.endsWith(":mutateRows")) {
          val n = mapper.readTree(body).path("entries").size()
          this.synchronized { batchSizes += n }
          """[{"entries":[{"index":0,"status":{"code":0}}]}]"""
        } else "{}"
      val bytes = resp.getBytes("UTF-8")
      ex.sendResponseHeaders(200, bytes.length.toLong)
      try ex.getResponseBody.write(bytes) finally ex.close()
    })
    server.start()
    try {
      val s = spec("bigtable",
        "http_url" -> s"http://127.0.0.1:${server.getAddress.getPort}",
        "project" -> "pr", "instance" -> "in", "batch_values" -> "3")
      assert(ProtocolRoute.applies(s))
      assert(ProtocolRoute.writes(s))
      val df = ProtocolRoute.read(spark, s, "tbl").localCheckpoint(true)
      assert(df.count() == 1)
      assert(df.columns.contains("default_v"))
      assert(paths.exists(
        _ == "/v2/projects/pr/instances/in/tables/tbl:readRows"))
      import spark.implicits._
      val n = ProtocolRoute.write(
        (1 to 7).map(i => (i, s"x$i")).toDF("a", "b").coalesce(1),
        s, "tbl", mode = "append")
      assert(n == 7)
      assert(batchSizes.toSeq.sorted == Seq(1, 3, 3)) // 7 rows at 3/batch
    } finally server.stop(0)
  }
}
