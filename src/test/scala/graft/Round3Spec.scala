package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.api.{ApiExtractor, Auth}
import graft.repl.Replication
import graft.sources.{Compression, HttpSource}
import graft.transform.{JsonPathX, Transforms}
import graft.write.StdoutWriter

/** Round-3 additions: JSONPath extraction, OAuth2/HMAC auth, zstd
  * compression, HTTP staging, replication DAG, charset registry, stdout
  * data stream.
  */
class Round3Spec extends AnyFunSuite with SparkSuite {

  // ---- JsonPathX ---------------------------------------------------------

  test("jsonpath parse handles fields, indices, and flatten") {
    import JsonPathX._
    assert(parse("$.a.b") == Seq(Field("a"), Field("b")))
    assert(parse("a[2].b") == Seq(Field("a"), Index(2), Field("b")))
    assert(parse("a[].b[*]") == Seq(Field("a"), Flatten, Field("b"), Flatten))
  }

  test("jsonpath driver eval flattens nested arrays") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(
      """{"data":{"items":[{"id":1,"tags":["a","b"]},{"id":2,"tags":["c"]}]}}""")
    assert(JsonPathX.eval(node, "data.items[].id").map(_.asInt) == Seq(1, 2))
    assert(JsonPathX.eval(node, "data.items[].tags[]").map(_.asText) ==
      Seq("a", "b", "c"))
    assert(JsonPathX.eval(node, "data.items[1].id").map(_.asInt) == Seq(2))
    assert(JsonPathX.eval(node, "data.missing[].id").isEmpty)
  }

  test("jsonpath spark scalar + flatten compile to built-ins") {
    import spark.implicits._
    val df = Seq(
      (1L, """{"user":{"id":7,"vals":[10,20]}}"""),
      (2L, """{"user":{"id":8,"vals":[30]}}""")).toDF("k", "js")
    val sc = df.select($"k",
      JsonPathX.scalar($"js", "user.id").cast("long").as("uid")).collect()
    assert(sc.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 7L), (2L, 8L)))
    val fl = JsonPathX.flatten(df, $"js", "user.vals[]", "v")
      .select($"k", $"v".cast("long")).collect()
    assert(fl.map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 10L), (1L, 20L), (2L, 30L)))
  }

  test("api extractor follows nested records/next-token paths") {
    val spec = ApiExtractor.EndpointSpec(name = "n",
      url = "stub://nested", recordsPath = "body.page.items[].rec",
      nextTokenPath = "body.next.token")
    val transport: ApiExtractor.Transport = (_, params) =>
      params.get("page_token") match {
        case None =>
          """{"body":{"page":{"items":[{"rec":{"id":1}},{"rec":{"id":2}}]},"next":{"token":"t2"}}}"""
        case Some("t2") =>
          """{"body":{"page":{"items":[{"rec":{"id":3}}]},"next":{"token":null}}}"""
        case other => fail(s"unexpected token $other")
      }
    val recs = ApiExtractor.extract(spec, transport)
    assert(recs == Seq("""{"id":1}""", """{"id":2}""", """{"id":3}"""))
  }

  // ---- Auth --------------------------------------------------------------

  test("hmac-sha256 matches the RFC test vector") {
    assert(Auth.hmacHex("sha256", "key".getBytes,
      "The quick brown fox jumps over the lazy dog") ==
      "f7bc83f430538424b13298e6aa6fb143ef4d59a14946175997479dbc2d1a3cd8")
  }

  test("hmac signer renders signing string and headers deterministically") {
    val signer = Auth.hmac(Auth.HmacConfig(
      secret = "s3cret",
      signingString = "{http_method}\n{http_path}\n{unix_time}",
      requestHeaders = Map("X-Sig" -> "{signature}", "X-T" -> "{unix_time}"),
      clock = () => 1700000000000L))
    val h1 = signer.headers("GET", "http://api/x", Map("b" -> "2", "a" -> "1"))
    val h2 = signer.headers("GET", "http://api/x", Map("a" -> "1", "b" -> "2"))
    assert(h1 == h2) // param order cannot change the canonical form
    assert(h1("X-T") == "1700000000")
    val expected = Auth.hmacHex("sha256", "s3cret".getBytes,
      "GET\n/x?a=1&b=2\n1700000000")
    assert(h1("X-Sig") == expected)
  }

  test("hmac secret decodes hex and base64 encodings") {
    val msg = "m"
    val raw = Auth.hmacHex("sha256", Array[Byte](1, 2, 3), msg)
    def conf(enc: String, secret: String) = Auth.HmacConfig(
      secret = secret, signingString = "m",
      requestHeaders = Map("S" -> "{signature}"), secretEncoding = enc,
      clock = () => 0L)
    assert(Auth.hmac(conf("hex", "010203")).headers("GET", "u", Map())("S") == raw)
    assert(Auth.hmac(conf("base64",
      java.util.Base64.getEncoder.encodeToString(Array[Byte](1, 2, 3))))
      .headers("GET", "u", Map())("S") == raw)
  }

  test("oauth2 client-credentials fetches token once and sends bearer") {
    var tokenCalls = 0
    val tokenTransport: ApiExtractor.Transport = (url, params) => {
      tokenCalls += 1
      assert(url == "stub://token")
      assert(params("grant_type") == "client_credentials")
      assert(params("scope") == "read write")
      """{"access_token":"abc123"}"""
    }
    val auth = Auth.oauth2ClientCredentials("stub://token", "id", "sec",
      Seq("read", "write"), tokenTransport)
    assert(auth.headers("GET", "u", Map()) == Map("Authorization" -> "Bearer abc123"))
    auth.headers("GET", "u2", Map())
    assert(tokenCalls == 1) // cached after first acquisition
    val bad = Auth.oauth2ClientCredentials("stub://token", "id", "sec", Nil,
      (_, _) => """{"error":"nope"}""")
    assertThrows[IllegalArgumentException](bad.headers("GET", "u", Map()))
  }

  test("oauth2 token refreshes after expires_in elapses") {
    var calls = 0
    val transport: ApiExtractor.Transport = (_, _) => {
      calls += 1
      s"""{"access_token":"tok$calls","expires_in":300}"""
    }
    var now = 0L
    val auth = Auth.oauth2ClientCredentials("stub://token", "id", "sec", Nil,
      transport, clock = () => now)
    assert(auth.headers("GET", "u", Map())("Authorization") == "Bearer tok1")
    now = 200 * 1000 // inside the 300s-minus-60s margin: still cached
    assert(auth.headers("GET", "u", Map())("Authorization") == "Bearer tok1")
    now = 250 * 1000 // past the refresh point: re-fetched
    assert(auth.headers("GET", "u", Map())("Authorization") == "Bearer tok2")
    assert(calls == 2)
  }

  // ---- Compression -------------------------------------------------------

  test("zstd bytes round-trip") {
    val data = ("graft " * 1000).getBytes("UTF-8")
    val packed = Compression.zstdCompress(data)
    assert(packed.length < data.length / 5)
    assert(Compression.zstdDecompress(packed).sameElements(data))
  }

  test("zstd csv write + read round-trips through inference") {
    import spark.implicits._
    val dir = "/tmp/graft-test-zstd-csv"
    val df = Seq((1L, "a,comma", 1.5), (2L, "plain", 2.5)).toDF("id", "s", "x")
    Compression.writeCsvZstd(df.repartition(2), dir)
    val back = graft.sources.FileSources.csv(spark, dir,
      overrides = Map("x" -> org.apache.spark.sql.types.DoubleType,
        "id" -> org.apache.spark.sql.types.LongType))
      .orderBy("id").collect()
    assert(back.map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq ==
      Seq((1L, "a,comma", 1.5), (2L, "plain", 2.5)))
  }

  test("zstd csv skip_lines drops the preamble of EVERY file") {
    val dir = "/tmp/graft-test-zstd-skip"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
    def put(name: String, text: String): Unit = {
      val out = fs.create(new org.apache.hadoop.fs.Path(s"$dir/$name"), true)
      out.write(Compression.zstdCompress(
        text.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      out.close()
    }
    // one partition per .zst file: the junk line must go from BOTH files,
    // not only the first partition
    put("a.csv.zst", "junk preamble\nid,name\n1,a\n")
    put("b.csv.zst", "junk preamble\nid,name\n2,b\n")
    val back = graft.sources.FileSources.csv(spark, dir,
      opts = graft.sources.FileSources.CsvOpts(skipLines = 1))
      .orderBy("id").collect()
    assert(back.map(r => (r.get(0).toString, r.getString(1))).toSeq ==
      Seq(("1", "a"), ("2", "b")))
  }

  test("skip_lines on a directory with only hidden files yields empty, " +
      "not empty.reduce") {
    val dir = "/tmp/graft-test-skip-empty"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$dir/_SUCCESS"), true)
    out.close()
    val back = graft.sources.FileSources.csv(spark, dir,
      opts = graft.sources.FileSources.CsvOpts(skipLines = 1))
    assert(back.count() == 0)
  }

  test("zstd csv honors the source encoding for non-UTF-8 bytes") {
    val dir = "/tmp/graft-test-zstd-enc"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$dir/a.csv.zst"), true)
    out.write(Compression.zstdCompress(
      "id,name\n1,José\n".getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)))
    out.close()
    val back = graft.sources.FileSources.csv(spark, dir,
      encoding = Some("ISO-8859-1")).collect()
    assert(back.head.getAs[String]("name") == "José") // 0xE9 is not UTF-8
  }

  // ---- HttpSource --------------------------------------------------------

  test("http source stages urls and reads them") {
    val fetched = collection.mutable.ArrayBuffer[String]()
    val fetcher: HttpSource.Fetcher = url => {
      fetched += url
      "id,name\n1,alpha\n2,beta\n".getBytes("UTF-8")
    }
    val dir = "/tmp/graft-test-http-staging"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    val df = HttpSource.csv(spark, Seq("http://fixture/data.csv"), dir, fetcher)
    assert(fetched == Seq("http://fixture/data.csv"))
    assert(df.orderBy("id").collect().map(_.getString(1)).toSeq ==
      Seq("alpha", "beta"))
  }

  // ---- Replication DAG ---------------------------------------------------

  test("replication topo levels respect depends_on and reject cycles") {
    def st(n: String, deps: String*) = Replication.Stream(n, "full-refresh",
      None, Nil, dependsOn = deps.toSeq)
    val levels = Replication.topoLevels(Seq(st("a"), st("b", "a"), st("c", "a"),
      st("d", "b", "c")))
    assert(levels.map(_.map(_.name).toSet) ==
      Seq(Set("a"), Set("b", "c"), Set("d")))
    assertThrows[IllegalArgumentException](
      Replication.topoLevels(Seq(st("x", "y"), st("y", "x"))))
  }

  test("replication render substitutes stream and state variables") {
    val out = Replication.render("{stream_table} <= {state.orders.rows}",
      "lineitem", "/t/lineitem", Map("orders.rows" -> 15000L))
    assert(out == "lineitem <= 15000")
  }

  // ---- Transforms registry -----------------------------------------------

  test("charset encode/decode registry round-trips, latin9 carries the euro") {
    import spark.implicits._
    val df = Seq("café €9").toDF("s") // é + euro sign
    def rt(enc: String, dec: String): String =
      df.select(Transforms(dec, Transforms(enc, $"s"))).head.getString(0)
    assert(rt("encode_latin9", "decode_latin9") == "café €9")
    assert(rt("encode_utf8", "decode_utf8") == "café €9")
    assert(rt("encode_utf8_bom", "decode_utf8_bom") == "café €9")
    assert(rt("encode_utf16", "decode_utf16") == "café €9")
    assert(rt("encode_windows1250", "decode_windows1250") == "café €9")
    // latin9 0xA4 IS the euro sign (ISO-8859-15), latin1's 0xA4 is not
    val encoded = graft.transform.BinaryTransforms.encodeCharset("€", "latin9")
    assert(encoded.sameElements(Array(0xa4.toByte)))
    // BOM is stripped on decode
    val bom = graft.transform.BinaryTransforms.encodeCharset("hi", "utf8_bom")
    assert(bom.take(3).sameElements(Array(0xef.toByte, 0xbb.toByte, 0xbf.toByte)))
    assert(graft.transform.BinaryTransforms.decodeCharset(bom, "utf8_bom") == "hi")
  }

  // ---- StdoutWriter ------------------------------------------------------

  test("stdout writer streams csv without collecting") {
    import spark.implicits._
    val df = Seq((1, "x"), (2, "y,z")).toDF("a", "b").repartition(2)
    val bos = new java.io.ByteArrayOutputStream()
    val n = StdoutWriter.csv(df.orderBy("a"), bos)
    assert(n == 2)
    val lines = bos.toString("UTF-8").split("\n").toSeq
    assert(lines.head == "a,b")
    assert(lines.tail.toSet == Set("1,x", "2,\"y,z\""))
  }
}
