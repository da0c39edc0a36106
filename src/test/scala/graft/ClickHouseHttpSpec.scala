package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ClickHouseHttp

/** ClickHouse HTTP interface over a loopback server: JSONEachRow reads,
  * chunked INSERT bodies, header auth, error surfaces. */
class ClickHouseHttpSpec extends AnyFunSuite with SparkSuite {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private class FakeCh {
    val inserts = collection.mutable.ArrayBuffer[String]()
    val selects = collection.mutable.ArrayBuffer[String]()
    var seenUser = ""
    val rows = collection.mutable.ArrayBuffer[String](
      """{"id":1,"name":"a","v":1.5}""",
      """{"id":2,"name":"b","v":2.5}""",
      """{"id":3,"name":null,"v":3.5}""")
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
      try {
        seenUser = Option(
          ex.getRequestHeaders.getFirst("X-ClickHouse-User")).getOrElse("")
        val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
        val resp: String =
          if (body.startsWith("INSERT INTO")) {
            this.synchronized {
              inserts += body
              body.split("\n").drop(1).filter(_.nonEmpty).foreach(rows += _)
            }
            ""
          } else if (body.contains("boom"))
            throw new RuntimeException("fail below") // 500 path via catch
          else this.synchronized {
            selects += body
            // honor a chunk range predicate when one is present
            val range = """(\w+) >= (-?\d+) AND \1 < (-?\d+)""".r
              .findFirstMatchIn(body)
            val out = range match {
              case Some(m) =>
                val (k, lo, hi) =
                  (m.group(1), m.group(2).toLong, m.group(3).toLong)
                rows.filter { r =>
                  val v = mapper.readTree(r).path(k).asLong()
                  v >= lo && v < hi
                }
              case None => rows
            }
            out.mkString("\n") + "\n"
          }
        val bytes = resp.getBytes("UTF-8")
        ex.sendResponseHeaders(200, bytes.length.toLong)
        ex.getResponseBody.write(bytes)
      } catch {
        case _: RuntimeException =>
          val err = "Code: 62. DB::Exception: Syntax error".getBytes("UTF-8")
          ex.sendResponseHeaders(400, err.length.toLong)
          ex.getResponseBody.write(err)
          ex.close()
      } finally ex.close()
    })
    server.start()
    def conn: ClickHouseHttp.Conn = ClickHouseHttp.Conn(
      s"http://127.0.0.1:${server.getAddress.getPort}", user = "etl")
    def stop(): Unit = server.stop(0)
  }

  test("JSONEachRow read types rows; auth header sent") {
    val fake = new FakeCh
    try {
      val df = ClickHouseHttp.read(spark, fake.conn, "SELECT * FROM t")
      assert(df.count() == 3)
      assert(df.schema("id").dataType == org.apache.spark.sql.types.LongType)
      assert(df.schema("v").dataType == org.apache.spark.sql.types.DoubleType)
      assert(fake.seenUser == "etl")
    } finally fake.stop()
  }

  test("insert streams chunked JSONEachRow bodies and rows round-trip") {
    import spark.implicits._
    val fake = new FakeCh
    try {
      val add = Seq((10L, "x", 0.5), (11L, "y", 0.75))
        .toDF("id", "name", "v")
      val n = ClickHouseHttp.insert(add, fake.conn, "t", chunkRows = 1)
      assert(n == 2)
      assert(fake.inserts.size == 2, "chunkRows=1 must flush per row")
      assert(fake.inserts.forall(_.startsWith(
        "INSERT INTO t FORMAT JSONEachRow\n")))
      val back = ClickHouseHttp.read(spark, fake.conn, "SELECT * FROM t")
      assert(back.count() == 5)
    } finally fake.stop()
  }

  test("read streams the response to JSONL staging (bounded residency)") {
    val fake = new FakeCh
    try {
      fake.rows.clear()
      (1 to 1000).foreach(i =>
        fake.rows += s"""{"id":$i,"name":"n$i","v":$i.5}""")
      val stage = java.nio.file.Files.createTempDirectory("ch-stage")
      val df = ClickHouseHttp.read(spark, fake.conn, "SELECT * FROM t",
        spill = graft.sources.Spill.Config(
          partBytes = 4 * 1024, dir = Some(stage.toString)))
      assert(df.count() == 1000)
      val parts = collection.mutable.ArrayBuffer[String]()
      java.nio.file.Files.walk(stage).iterator().forEachRemaining(p =>
        if (p.toString.endsWith(".jsonl")) parts += p.toString)
      assert(parts.size >= 2, s"expected part rotation, got $parts")
    } finally fake.stop()
  }

  test("readPartitioned runs one WHERE-bounded cursor per Spark partition") {
    val fake = new FakeCh
    try {
      fake.rows.clear()
      (1 to 90).foreach(i =>
        fake.rows += s"""{"id":$i,"name":"n$i","v":$i.5}""")
      val df = ClickHouseHttp.readPartitioned(spark, fake.conn,
        "SELECT * FROM t WHERE {chunk}", "id", 1L, 90L, chunks = 4)
      assert(df.count() == 90)
      assert(df.agg(org.apache.spark.sql.functions.sum("id")).head.getLong(0)
        == (1 to 90).sum.toLong)
      // every cursor carried its own half-open range; 4 distinct chunks
      // cover [1, 90] exactly, and — because Spill.typed persists the
      // fetched lines across the inference + data scans and both actions
      // above — each cursor ran EXACTLY once: 4 requests total
      val preds = fake.selects.toSeq.flatMap(
        """id >= -?\d+ AND id < -?\d+""".r.findFirstIn)
      assert(preds.size == 4, s"got $preds")
      assert(preds.distinct.size == 4, s"got $preds")
      assert(fake.selects.forall(_.contains("WHERE (id >=")))
    } finally fake.stop()
  }

  test("LoopbackClickHouse serves the full probe surface: typed reads, " +
      "partitioned cursors, distributed insert, truncate") {
    val ch = new graft.sources.LoopbackClickHouse()
    try {
      ch.define("c", Seq("k" -> ch.Num, "name" -> ch.Txt, "score" -> ch.Num))
      ch.load("c", (0 until 200).map(i => Seq(i.toLong, s"d-$i", i / 7.0)))
      ch.define("sink", Seq("k" -> ch.Num, "name" -> ch.Txt,
        "score" -> ch.Num))
      // staged streaming read types numbers as numbers
      val df = ClickHouseHttp.read(spark, ch.conn, "SELECT * FROM c")
      assert(df.count() == 200)
      assert(df.schema("k").dataType ==
        org.apache.spark.sql.types.LongType)
      assert(df.agg(org.apache.spark.sql.functions.sum("k")).head.getLong(0)
        == (0 until 200).sum.toLong)
      // partitioned cursors: every row exactly once across 4 chunks
      val part = ClickHouseHttp.readPartitioned(spark, ch.conn,
        "SELECT * FROM c WHERE {chunk}", "k", 0L, 199L, chunks = 4)
      assert(part.count() == 200)
      // distributed insert + truncate round-trip
      ClickHouseHttp.insert(df, ch.conn, "sink", chunkRows = 64)
      assert(ch.rowCount("sink") == 200)
      ClickHouseHttp.execute(ch.conn, "TRUNCATE TABLE sink")
      assert(ch.rowCount("sink") == 0)
    } finally ch.close()
  }

  test("readChunked covers NULL chunk-column rows exactly once") {
    val ch = new graft.sources.LoopbackClickHouse()
    try {
      ch.define("n", Seq("k" -> ch.Num, "name" -> ch.Txt))
      // Nullable chunk column: range predicates never match NULL — without
      // the IS NULL sweep on chunk 0 these three rows silently vanish
      ch.load("n", (0 until 60).map(i => Seq(i.toLong, s"d-$i")) ++
        Seq(Seq(null, "null-a"), Seq(null, "null-b"), Seq(null, "null-c")))
      val df = ClickHouseHttp.readChunked(spark, ch.conn, "n", "k", chunks = 3)
      assert(df.count() == 63)
      assert(df.filter(df("k").isNull).count() == 3)
      // non-null rows still exactly once (no double-count from the OR arm)
      assert(df.filter(df("k").isNotNull)
        .agg(org.apache.spark.sql.functions.sum("k")).head.getLong(0)
        == (0 until 60).sum.toLong)
    } finally ch.close()
  }

  test("explicit schema: single streaming pass per action, typed exactly") {
    import org.apache.spark.sql.types._
    val ch = new graft.sources.LoopbackClickHouse()
    try {
      ch.define("c", Seq("k" -> ch.Num, "name" -> ch.Txt, "score" -> ch.Num))
      ch.load("c", (0 until 50).map(i => Seq(i.toLong, s"d-$i", i / 7.0)))
      val schema = StructType(Seq(StructField("k", LongType),
        StructField("name", StringType), StructField("score", DoubleType)))
      val before = ch.statements.get()
      val df = ClickHouseHttp.readPartitioned(spark, ch.conn,
        "SELECT * FROM c WHERE {chunk}", "k", 0L, 49L, chunks = 2,
        schema = Some(schema))
      assert(df.count() == 50)
      // no inference pass with a schema: one action = one cursor set
      assert(ch.statements.get() - before == 2,
        s"got ${ch.statements.get() - before}")
      assert(df.schema == schema)
    } finally ch.close()
  }

  test("engine errors surface with clickhouse's message") {
    val fake = new FakeCh
    try {
      val e = intercept[java.sql.SQLException] {
        ClickHouseHttp.read(spark, fake.conn, "SELECT boom FROM")
      }
      assert(e.getMessage.contains("DB::Exception"))
    } finally fake.stop()
  }
}
