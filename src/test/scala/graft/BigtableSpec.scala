package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Bigtable

/** Bigtable REST surface against a loopback server speaking the v2 JSON
  * protocol: sampleRowKeys-driven distributed ranges, the CellChunk
  * state machine (carry-over, split values, resetRow), the reference's
  * row shape (`family_qualifier` strings + `_bigtable_key` +
  * `_bigtable_timestamp`), start_time filters, batched mutateRows
  * inserts, and the admin verbs.
  */
class BigtableSpec extends AnyFunSuite with SparkSuite {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def b64(s: String): String =
    java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
  private def unb64(s: String): String =
    new String(java.util.Base64.getDecoder.decode(s), "UTF-8")

  /** Loopback Bigtable: rows keyed `rNNN`, one `default` family with
    * `id`/`name` qualifiers. Serves sampleRowKeys at fixed split points,
    * readRows honoring row ranges + timestamp filters, and mutateRows. */
  private class FakeBigtable(n: Int, splits: Seq[String],
      token: String = "") {
    // key -> (id, name, tsMicros)
    val rows = collection.mutable.LinkedHashMap[String, (Int, String, Long)]()
    (1 to n).foreach(i => rows(f"r$i%03d") = (i, s"name$i", i * 1000000L))
    val rangeRequests =
      collection.mutable.ArrayBuffer[(String, String)]() // (lo, hi)
    val mutateBatches = collection.mutable.ArrayBuffer[Int]()
    val inserted =
      collection.mutable.ArrayBuffer[(String, Map[String, String])]()
    val authSeen = collection.mutable.ArrayBuffer[String]()
    val created = collection.mutable.ArrayBuffer[String]()

    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
      try {
        this.synchronized {
          authSeen += Option(
            ex.getRequestHeaders.getFirst("Authorization")).getOrElse("")
        }
        val path = ex.getRequestURI.getPath
        val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
        val resp: String =
          if (path.endsWith(":sampleRowKeys")) {
            val arr = mapper.createArrayNode()
            splits.foreach { k =>
              arr.addObject().put("rowKey", b64(k)).put("offsetBytes", "0")
            }
            mapper.writeValueAsString(arr)
          } else if (path.endsWith(":readRows")) {
            val req = mapper.readTree(body)
            val r = req.path("rows").path("rowRanges").get(0)
            val lo = Option(r.path("startKeyClosed").asText(null))
              .map(unb64).getOrElse("")
            val hi = Option(r.path("endKeyOpen").asText(null))
              .map(unb64).getOrElse("")
            this.synchronized { rangeRequests += ((lo, hi)) }
            val tmin = req.path("filter").path("timestampRangeFilter")
              .path("startTimestampMicros").asLong(0L)
            val hit = rows.toSeq.filter { case (k, (_, _, ts)) =>
              (lo.isEmpty || k >= lo) && (hi.isEmpty || k < hi) &&
                ts >= tmin
            }
            // two responses per call; each row as carry-over chunks, the
            // name cell split into two value chunks via valueSize
            val out = mapper.createArrayNode()
            hit.grouped(math.max(1, (hit.size + 1) / 2)).foreach { grp =>
              val chunks = out.addObject().putArray("chunks")
              grp.foreach { case (k, (id, name, ts)) =>
                val c1 = chunks.addObject()
                c1.put("rowKey", b64(k))
                c1.put("familyName", "default")
                c1.put("qualifier", b64("id"))
                c1.put("timestampMicros", ts.toString)
                c1.put("value", b64(id.toString))
                // split cell: first half declares remaining valueSize
                val (h1, h2) = name.splitAt(name.length / 2)
                val c2 = chunks.addObject()
                c2.put("qualifier", b64("name"))
                c2.put("timestampMicros", ts.toString)
                c2.put("value", b64(h1))
                c2.put("valueSize", h2.length)
                val c3 = chunks.addObject()
                c3.put("value", b64(h2))
                c3.put("commitRow", true)
              }
            }
            mapper.writeValueAsString(out)
          } else if (path.endsWith(":mutateRows")) {
            val req = mapper.readTree(body)
            val entries = req.path("entries")
            this.synchronized { mutateBatches += entries.size() }
            val respArr = mapper.createArrayNode()
            val respEntries = respArr.addObject().putArray("entries")
            (0 until entries.size()).foreach { i =>
              val e = entries.get(i)
              val cols = (0 until e.path("mutations").size()).map { j =>
                val sc = e.path("mutations").get(j).path("setCell")
                unb64(sc.path("columnQualifier").asText()) ->
                  unb64(sc.path("value").asText())
              }.toMap
              this.synchronized {
                inserted += ((unb64(e.path("rowKey").asText()), cols))
              }
              respEntries.addObject().put("index", i)
                .putObject("status").put("code", 0)
            }
            mapper.writeValueAsString(respArr)
          } else if (path.endsWith("/tables") &&
              ex.getRequestMethod == "GET") {
            """{"tables":[{"name":"projects/p/instances/i/tables/t1"},
              {"name":"projects/p/instances/i/tables/t2"}]}"""
          } else if (path.endsWith("/tables") &&
              ex.getRequestMethod == "POST") {
            this.synchronized {
              created += mapper.readTree(body).path("tableId").asText()
            }
            "{}"
          } else if (path.contains("view=") ||
              Option(ex.getRequestURI.getQuery)
                .exists(_.contains("view=SCHEMA_VIEW"))) {
            """{"name":"t1","columnFamilies":{"default":{},"meta":{}}}"""
          } else "{}"
        val bytes = resp.getBytes("UTF-8")
        ex.sendResponseHeaders(200, bytes.length.toLong)
        ex.getResponseBody.write(bytes)
      } finally ex.close()
    })
    server.start()
    def conn: Bigtable.Conn = Bigtable.Conn(
      s"http://127.0.0.1:${server.getAddress.getPort}", token)
    def stop(): Unit = server.stop(0)
  }

  private val tablePath = "projects/p/instances/i/tables/t1"

  test("distributed read: one readRows per sampled range, all rows once") {
    val fake = new FakeBigtable(40, Seq("r011", "r021", "r031"))
    try {
      val df = Bigtable.read(spark, fake.conn, tablePath)
        .localCheckpoint(true)
      assert(df.count() == 40)
      // 3 split points -> 4 contiguous half-open ranges
      assert(fake.rangeRequests.sortBy(_._1) == Seq(
        ("", "r011"), ("r011", "r021"), ("r021", "r031"), ("r031", "")))
      // reference row shape: family_qualifier strings + key + ts seconds
      assert(df.columns.sorted.toSeq == Seq("_bigtable_key",
        "_bigtable_timestamp", "default_id", "default_name"))
      val r7 = df.filter(df("_bigtable_key") === "r007").collect()(0)
      assert(r7.getAs[String]("default_id") == "7")
      assert(r7.getAs[String]("default_name") == "name7") // split cell
      assert(r7.getAs[Long]("_bigtable_timestamp") == 7L)
    } finally fake.stop()
  }

  test("keyRanges thins oversampled split points but stays contiguous") {
    val ranges = Bigtable.keyRanges(
      (1 to 100).map(i => f"k$i%03d".getBytes("UTF-8")), 4)
    assert(ranges.size == 4)
    assert(ranges.head._1.isEmpty && ranges.last._2.isEmpty)
    assert(ranges.map(_._2.toSeq).dropRight(1) == ranges.map(_._1.toSeq).drop(1))
    // no samples -> single full range
    val full = Bigtable.keyRanges(Nil, 8)
    assert(full.size == 1 && full.head._1.isEmpty && full.head._2.isEmpty)
  }

  test("keyRanges orders by unsigned bytes, not UTF-16 code units") {
    // U+FFFF (UTF-8 EF BF BF) vs U+10000 (UTF-8 F0 90 80 80): Java String
    // compare puts the surrogate pair (𐀀) BEFORE ￿, but
    // the server's byte order puts it AFTER. Also a raw non-UTF-8 key
    // (0xFF) must survive byte-exactly and sort last.
    val kSupp = "𐀀".getBytes("UTF-8") // F0 90 80 80
    val kBmp = "￿".getBytes("UTF-8")        // EF BF BF
    val kRaw = Array(0xFF.toByte, 0x01.toByte)   // not valid UTF-8
    val ranges = Bigtable.keyRanges(Seq(kRaw, kSupp, kBmp), 16)
    val pts = ranges.map(_._2.toSeq).dropRight(1)
    assert(pts == Seq(kBmp.toSeq, kSupp.toSeq, kRaw.toSeq))
    // bounds land base64'd verbatim in the readRows body — no decode trip
    val body = mapper.readTree(
      Bigtable.readRowsBody(kRaw, Array.empty, None))
    val sent = java.util.Base64.getDecoder.decode(body.path("rows")
      .path("rowRanges").get(0).path("startKeyClosed").asText())
    assert(sent.toSeq == kRaw.toSeq)
  }

  test("prefixSuccessor: increment, 0xff carry, all-0xff open end") {
    assert(Bigtable.prefixSuccessor("r01".getBytes("UTF-8")).toSeq
      == "r02".getBytes("UTF-8").toSeq)
    assert(Bigtable.prefixSuccessor(
      Array(0x61.toByte, 0xff.toByte, 0xff.toByte)).toSeq
      == Seq(0x62.toByte))
    assert(Bigtable.prefixSuccessor(Array(0xff.toByte, 0xff.toByte)).isEmpty)
    assert(Bigtable.prefixSuccessor(Array.empty[Byte]).isEmpty)
  }

  test("row_key_prefix pushes the window into every readRows request " +
      "and prunes non-overlapping partitions") {
    val fake = new FakeBigtable(30, Seq("r010", "r020"))
    try {
      val df = Bigtable.read(spark, fake.conn, tablePath,
        keyPrefix = Some("r01".getBytes("UTF-8"))).localCheckpoint(true)
      assert(df.count() == 10) // r010..r019
      // sampled ranges ["",r010) [r010,r020) [r020,"") intersect the
      // window [r01, r02): two clipped requests, third range pruned —
      // the server never sees an unbounded scan
      assert(fake.rangeRequests.sortBy(_._1) ==
        Seq(("r01", "r010"), ("r010", "r02")))
    } finally fake.stop()
  }

  test("row_key start/end window clips to one request; empty window " +
      "reads nothing") {
    val fake = new FakeBigtable(30, Seq("r010", "r020"))
    try {
      val df = Bigtable.read(spark, fake.conn, tablePath,
        keyStart = Some("r005".getBytes("UTF-8")),
        keyEnd = Some("r008".getBytes("UTF-8"))).localCheckpoint(true)
      assert(df.count() == 3) // r005, r006, r007
      assert(fake.rangeRequests.toSeq == Seq(("r005", "r008")))
      // a window beyond the last key prunes EVERY partition: zero
      // requests, empty typed frame
      fake.rangeRequests.clear()
      val none = Bigtable.read(spark, fake.conn, tablePath,
        keyStart = Some("zzz".getBytes("UTF-8")))
      assert(none.count() == 0)
      // only the [r020,"") tail range overlaps [zzz, inf)
      assert(fake.rangeRequests.toSeq == Seq(("zzz", "")))
    } finally fake.stop()
  }

  test("start_time option becomes a timestampRangeFilter the server sees") {
    val fake = new FakeBigtable(20, Nil)
    try {
      val df = Bigtable.read(spark, fake.conn, tablePath,
        startTimeMicros = Some(11 * 1000000L)).localCheckpoint(true)
      assert(df.count() == 10) // rows 11..20
    } finally fake.stop()
  }

  test("resetRow discards a partial row") {
    val json = s"""[{"chunks":[
      {"rowKey":"${b64("bad")}","familyName":"f","qualifier":"${b64("q")}",
       "value":"${b64("x")}"},
      {"resetRow":true},
      {"rowKey":"${b64("good")}","familyName":"f","qualifier":"${b64("q")}",
       "value":"${b64("y")}","commitRow":true}]}]"""
    val rows = Bigtable.decodeReadRows(
      new java.io.ByteArrayInputStream(json.getBytes("UTF-8"))).toSeq
    assert(rows.size == 1)
    val n = mapper.readTree(rows.head)
    assert(n.path("_bigtable_key").asText() == "good")
    assert(n.path("f_q").asText() == "y")
  }

  test("insert batches mutateRows at batchSize with per-partition keys") {
    val fake = new FakeBigtable(0, Nil)
    try {
      import spark.implicits._
      val df = (1 to 23).map(i => (i, s"v$i")).toDF("id", "val")
        .repartition(2)
      val n = Bigtable.insert(df, fake.conn, tablePath, batchSize = 5)
      assert(n == 23)
      assert(fake.inserted.size == 23)
      // every batch within size; at least one full batch per partition
      assert(fake.mutateBatches.forall(_ <= 5))
      assert(fake.mutateBatches.count(_ == 5) >= 2)
      assert(fake.inserted.map(_._1).distinct.size == 23) // unique keys
      val byId = fake.inserted.map(_._2).map(m => m("id") -> m("val")).toMap
      assert(byId("7") == "v7")
    } finally fake.stop()
  }

  test("bearer token rides every request; admin verbs round-trip") {
    val fake = new FakeBigtable(3, Nil, token = "tok123")
    try {
      val conn = fake.conn
      assert(Bigtable.listTables(conn, "projects/p/instances/i")
        == Seq("t1", "t2"))
      assert(Bigtable.columnFamilies(conn, tablePath)
        == Seq("default", "meta"))
      Bigtable.exec(conn, "projects/p/instances/i",
        """{"action":"create_table","table":"t9","column_family":["cf1"]}""")
      assert(fake.created.toSeq == Seq("t9"))
      assert(fake.authSeen.forall(_ == "Bearer tok123"))
    } finally fake.stop()
  }
}
