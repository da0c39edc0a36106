package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.AzTable

/** Azure Table backend over a loopback Table-service server: OData
  * listing with continuation paging, incremental/backfill filters,
  * SharedKeyLite signatures verified server-side, and entity inserts.
  */
class AzTableSpec extends AnyFunSuite with SparkSuite {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private class FakeTable(pageSize: Int = 10,
      account: String = "", keyB64: String = "") {
    val entities = collection.mutable.ArrayBuffer[String]()
    val authFailures = collection.mutable.ArrayBuffer[String]()
    // one element per $batch POST: (changeset entity count, distinct
    // PartitionKeys inside the changeset) — asserts transaction sizing
    val batches = collection.mutable.ArrayBuffer[(Int, Set[String])]()
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
      try {
        // verify SharedKeyLite when the fixture has a key
        if (keyB64.nonEmpty) {
          val date = ex.getRequestHeaders.getFirst("x-ms-date")
          val auth = ex.getRequestHeaders.getFirst("Authorization")
          val table = ex.getRequestURI.getPath.stripPrefix("/")
          val want = AzTable.sharedKeyLite(account, keyB64, date,
            s"/$account/$table")
          if (auth != want) authFailures += s"got $auth want $want"
        }
        val resp: String =
          if (ex.getRequestURI.getPath == "/$batch") {
            // entity-group transaction: one changeset of POSTed entities
            val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
            val posted = body.split("\r\n").filter(_.startsWith("{")).toSeq
            this.synchronized {
              entities ++= posted
              batches += ((posted.size, posted.map(e =>
                mapper.readTree(e).path("PartitionKey").asText()).toSet))
            }
            "accepted"
          } else if (ex.getRequestMethod == "POST" ||
              "POST" == ex.getRequestHeaders.getFirst("X-HTTP-Method")) {
            val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
            this.synchronized { entities += body }
            body
          } else {
            val query = Option(ex.getRequestURI.getQuery).getOrElse("")
            def qp(k: String): Option[String] = query.split("&")
              .find(_.startsWith(s"$k=")).map(v =>
                java.net.URLDecoder.decode(v.drop(k.length + 1), "UTF-8"))
            val filter = qp("$filter")
            val filtered = filter match {
              case Some(f) if f.contains(" gt ") =>
                val Array(k, v) = f.split(" gt ")
                val lit = v.stripPrefix("'").stripSuffix("'")
                entities.filter(e =>
                  mapper.readTree(e).path(k.trim).asText() > lit)
              case Some(f) if f.contains(" ge ") =>
                val parts = f.split(" and ")
                val k = parts(0).split(" ge ")(0).trim
                val lo = parts(0).split(" ge ")(1).trim
                  .stripPrefix("'").stripSuffix("'")
                val hi = parts(1).split(" le ")(1).trim
                  .stripPrefix("'").stripSuffix("'")
                entities.filter { e =>
                  val v = mapper.readTree(e).path(k).asText()
                  v >= lo && v <= hi
                }
              case _ => entities
            }
            val start = qp("NextRowKey").map(_.toInt).getOrElse(0)
            val page = filtered.slice(start, start + pageSize)
            val json = mapper.createObjectNode()
            val arr = json.putArray("value")
            page.foreach(e => arr.add(mapper.readTree(e)))
            if (start + pageSize < filtered.size) {
              json.put("odata.nextPartitionKey", "pk")
              json.put("odata.nextRowKey", (start + pageSize).toString)
            }
            mapper.writeValueAsString(json)
          }
        val bytes = resp.getBytes("UTF-8")
        ex.sendResponseHeaders(200, bytes.length.toLong)
        ex.getResponseBody.write(bytes)
      } finally ex.close()
    })
    server.start()
    def conn: AzTable.Conn = AzTable.Conn(
      s"http://127.0.0.1:${server.getAddress.getPort}", account, keyB64)
    def stop(): Unit = server.stop(0)
  }

  test("continuation paging reads every entity once, typed") {
    val fake = new FakeTable(pageSize = 7)
    try {
      (1 to 23).foreach(i => fake.entities +=
        s"""{"PartitionKey":"p","RowKey":"$i","id":$i,"name":"e$i"}""")
      val df = AzTable.read(spark, fake.conn, "T1")
      assert(df.count() == 23)
      assert(df.schema("id").dataType == org.apache.spark.sql.types.LongType)
      assert(df.orderBy("id").collect().map(_.getAs[Long]("id")).toSeq
        == (1L to 23L))
    } finally fake.stop()
  }

  test("incremental/backfill filters + datetime literal heuristic") {
    assert(AzTable.filterFor("seq", Some("10"), None)
      .contains("seq gt '10'"))
    assert(AzTable.filterFor("updated_at", Some("2024-01-01"), None)
      .contains("updated_at gt datetime'2024-01-01'"))
    assert(AzTable.filterFor("seq", None, Some(("a", "b")))
      .contains("seq ge 'a' and seq le 'b'"))
    val fake = new FakeTable(pageSize = 50)
    try {
      (1 to 20).foreach(i => fake.entities +=
        s"""{"PartitionKey":"p","RowKey":"$i","k":"${"%02d".format(i)}"}""")
      val inc = AzTable.entities(fake.conn, "T1",
        AzTable.filterFor("k", Some("15"), None))
      assert(inc.size == 5)
      val bf = AzTable.entities(fake.conn, "T1",
        AzTable.filterFor("k", None, Some(("05", "09"))))
      assert(bf.size == 5)
    } finally fake.stop()
  }

  test("SharedKeyLite signatures verify server-side; insert round-trips") {
    import spark.implicits._
    val key = java.util.Base64.getEncoder.encodeToString(
      "secret-key-material".getBytes)
    val fake = new FakeTable(pageSize = 50, account = "acct", keyB64 = key)
    try {
      val df = Seq((1, "a"), (2, "b")).toDF("id", "v")
      val n = AzTable.insert(df, fake.conn, "T2")
      assert(n == 2)
      assert(fake.authFailures.isEmpty, fake.authFailures.headOption)
      val back = AzTable.read(spark, fake.conn, "T2")
      assert(back.count() == 2)
      assert(back.columns.contains("PartitionKey"))
      assert(fake.authFailures.isEmpty)
    } finally fake.stop()
  }

  test("insert posts $batch entity-group transactions of batchSize, " +
      "distributed per Spark partition, grouped by PartitionKey") {
    import spark.implicits._
    val fake = new FakeTable(pageSize = 500)
    try {
      // 250 rows in ONE Spark partition → changesets of [100, 100, 50]
      val one = (1 to 250).map(i => (i, s"v$i")).toDF("id", "v")
        .coalesce(1)
      assert(AzTable.insert(one, fake.conn, "T3") == 250)
      assert(fake.batches.map(_._1).sorted == Seq(50, 100, 100))
      assert(fake.batches.forall(_._2 == Set("default")),
        "a changeset must hold a single PartitionKey")
      assert(fake.entities.size == 250)

      // 3 Spark partitions × 2 PartitionKeys → each partition flushes its
      // own per-pk transactions: ≥3 batches, none crossing pk boundaries
      fake.entities.clear(); fake.batches.clear()
      val multi = (1 to 30)
        .map(i => (s"pk${i % 2}", s"rk$i", i)).toDF("PartitionKey", "RowKey", "n")
        .repartition(3)
      assert(AzTable.insert(multi, fake.conn, "T3", batchSize = 4) == 30)
      assert(fake.batches.size >= 3)
      assert(fake.batches.forall(_._2.size == 1),
        "a changeset must hold a single PartitionKey")
      assert(fake.batches.forall(_._1 <= 4))
      assert(fake.entities.size == 30)
      val rks = fake.entities.map(e =>
        mapper.readTree(e).path("RowKey").asText()).toSet
      assert(rks == (1 to 30).map(i => s"rk$i").toSet)
    } finally fake.stop()
  }

  test("read spills pages to JSONL staging (bounded driver residency)") {
    val fake = new FakeTable(pageSize = 100)
    try {
      (1 to 2000).foreach(i => fake.entities +=
        s"""{"PartitionKey":"p","RowKey":"$i","id":$i}""")
      val stage = java.nio.file.Files.createTempDirectory("aztable-stage")
      val df = AzTable.read(spark, fake.conn, "T1",
        spill = graft.sources.Spill.Config(
          partBytes = 8 * 1024, dir = Some(stage.toString)))
      assert(df.count() == 2000)
      // rotation happened: the scan streamed through multiple small part
      // files rather than accumulating in driver memory
      val parts = java.nio.file.Files.walk(stage).iterator()
      val partFiles = collection.mutable.ArrayBuffer[String]()
      parts.forEachRemaining(p =>
        if (p.toString.endsWith(".jsonl")) partFiles += p.toString)
      assert(partFiles.size >= 2, s"expected rotation, got $partFiles")
    } finally fake.stop()
  }
}
