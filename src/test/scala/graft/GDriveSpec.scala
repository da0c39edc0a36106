package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{FileBackends, GDrive}

/** Google Drive backend over a loopback Drive-v3 server: path→id
  * resolution through folder parents, listing, binary download, multipart
  * upload, and the fetch-to-staging RemoteTransport integration.
  */
class GDriveSpec extends AnyFunSuite with SparkSuite {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** In-memory Drive: id -> (name, parentId, folder?, bytes). */
  private class FakeDrive {
    case class F(name: String, parent: String, folder: Boolean,
        bytes: Array[Byte])
    val files = collection.mutable.LinkedHashMap[String, F]()
    private var nextId = 0
    def add(name: String, parent: String, folder: Boolean,
        bytes: Array[Byte] = Array.empty): String = {
      nextId += 1; val id = s"id$nextId"
      files(id) = F(name, parent, folder, bytes); id
    }
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
      try {
        val path = ex.getRequestURI.getPath
        val query = Option(ex.getRequestURI.getQuery).getOrElse("")
        def send(bytes: Array[Byte]): Unit = {
          ex.sendResponseHeaders(200, bytes.length.toLong)
          ex.getResponseBody.write(bytes)
        }
        if (path.startsWith("/upload/")) {
          // multipart: metadata JSON part + octet-stream part
          val body = new String(ex.getRequestBody.readAllBytes(), "ISO-8859-1")
          val parts = body.split("--graft_gdrive_boundary")
          val metaPart = parts(1)
          val meta = mapper.readTree(
            metaPart.substring(metaPart.indexOf("{")))
          val dataPart = parts(2)
          val idx = dataPart.indexOf("\r\n\r\n")
          val data = dataPart.substring(idx + 4,
            dataPart.lastIndexOf("\r\n")).getBytes("ISO-8859-1")
          val id = add(meta.path("name").asText(),
            meta.path("parents").get(0).asText(), folder = false, data)
          send(s"""{"id":"$id"}""".getBytes("UTF-8"))
        } else if (path.matches("/drive/v3/files/[^/]+") &&
            query.contains("alt=media")) {
          val id = path.split("/").last
          send(files(id).bytes)
        } else {
          // files.list?q=...
          val q = java.net.URLDecoder.decode(
            query.split("&").find(_.startsWith("q=")).map(_.drop(2))
              .getOrElse(""), "UTF-8")
          val parent = "'([^']+)' in parents".r.findFirstMatchIn(q)
            .map(_.group(1)).getOrElse("root")
          val name = "name='([^']+)'".r.findFirstMatchIn(q).map(_.group(1))
          val hits = files.toSeq.collect {
            case (id, f) if f.parent == parent &&
                name.forall(_ == f.name) => (id, f)
          }
          val json = mapper.createObjectNode()
          val arr = json.putArray("files")
          hits.foreach { case (id, f) =>
            val o = arr.addObject()
            o.put("id", id).put("name", f.name)
            o.put("mimeType", if (f.folder)
              "application/vnd.google-apps.folder" else "text/plain")
            o.put("size", f.bytes.length)
          }
          send(mapper.writeValueAsString(json).getBytes("UTF-8"))
        }
      } finally ex.close()
    })
    server.start()
    def conn: GDrive.Conn = GDrive.Conn(
      baseUrl = s"http://127.0.0.1:${server.getAddress.getPort}")
    def stop(): Unit = server.stop(0)
  }

  test("path resolution walks folder parents; list and fetch work") {
    val d = new FakeDrive
    try {
      val docs = d.add("docs", "root", folder = true)
      val sub = d.add("2024", docs, folder = true)
      d.add("a.csv", sub, folder = false, "id,v\n1,x\n".getBytes)
      d.add("b.csv", sub, folder = false, "id,v\n2,y\n".getBytes)
      assert(GDrive.resolveId(d.conn, "docs/2024") == sub)
      val names = GDrive.list(d.conn, "docs/2024").map(_.name)
      assert(names == Seq("a.csv", "b.csv"))
      assert(new String(GDrive.fetchPath(d.conn, "docs/2024/a.csv"), "UTF-8")
        .contains("1,x"))
      intercept[java.io.FileNotFoundException] {
        GDrive.resolveId(d.conn, "docs/miss")
      }
    } finally d.stop()
  }

  test("gdrive transport stages a folder and the csv reader takes over") {
    val d = new FakeDrive
    try {
      val in = d.add("in", "root", folder = true)
      d.add("p1.csv", in, folder = false, "id,v\n1,a\n2,b\n".getBytes)
      d.add("p2.csv", in, folder = false, "id,v\n3,c\n".getBytes)
      val conn = FileBackends.Conn(Map(
        "BASE_URL" -> d.conn.baseUrl))
      val t = FileBackends.transportFor("gdrive", conn)
      val urls = t.list("gdrive://in")
      assert(urls == Seq("gdrive://in/p1.csv", "gdrive://in/p2.csv"))
      val staging = "/tmp/graft-test/gdrive_staged"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(staging))
      new java.io.File(staging).mkdirs()
      urls.foreach { u =>
        val bytes = t.fetch(u)
        java.nio.file.Files.write(java.nio.file.Paths.get(
          staging, u.split("/").last), bytes)
      }
      val df = graft.sources.FileSources.csv(spark, staging)
      assert(df.count() == 3)
      assert(df.schema("id").dataType ==
        org.apache.spark.sql.types.IntegerType)
    } finally d.stop()
  }

  test("multipart upload round-trips bytes") {
    val d = new FakeDrive
    try {
      val out = d.add("out", "root", folder = true)
      val payload = "x,y\n9,z\n".getBytes("UTF-8")
      val id = GDrive.upload(d.conn, "out", "new.csv", payload)
      assert(id.nonEmpty)
      assert(new String(GDrive.fetchPath(d.conn, "out/new.csv"), "UTF-8")
        == "x,y\n9,z\n")
    } finally d.stop()
  }
}
