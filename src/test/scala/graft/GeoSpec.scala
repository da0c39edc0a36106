package graft

import java.nio.{ByteBuffer, ByteOrder}

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Geo
import graft.write.GeoJsonWriter

/** WKB/EWKB → GeoJSON semantics (reference datastream.go:2526-2573). */
class GeoSpec extends AnyFunSuite with SparkSuite {

  test("point wkb roundtrip, little endian") {
    assert(Geo.wkbToGeoJson(Geo.pointWkb(-56.5, 23.5)) ==
      """{"type":"Point","coordinates":[-56.5,23.5]}""")
    assert(Geo.wkbToGeoJson(Geo.pointWkb(1.0, -0.0)) ==
      """{"type":"Point","coordinates":[1.0,-0.0]}""")
  }

  test("big-endian and EWKB with SRID parse identically") {
    val be = ByteBuffer.allocate(21).order(ByteOrder.BIG_ENDIAN)
    be.put(0.toByte).putInt(1).putDouble(2.5).putDouble(3.5)
    assert(Geo.wkbToGeoJson(be.array()) ==
      """{"type":"Point","coordinates":[2.5,3.5]}""")

    val ewkb = ByteBuffer.allocate(25).order(ByteOrder.LITTLE_ENDIAN)
    ewkb.put(1.toByte).putInt(1 | 0x20000000).putInt(4326)
      .putDouble(2.5).putDouble(3.5)
    assert(Geo.wkbToGeoJson(ewkb.array()) ==
      """{"type":"Point","coordinates":[2.5,3.5]}""")
  }

  test("ISO-WKB Z/M type offsets parse (1001 = PointZ)") {
    // ISO encoding: type + 1000 per dimension block, no EWKB flag bits
    val z = ByteBuffer.allocate(29).order(ByteOrder.LITTLE_ENDIAN)
    z.put(1.toByte).putInt(1001).putDouble(2.5).putDouble(3.5).putDouble(9.0)
    assert(Geo.wkbToGeoJson(z.array()) ==
      """{"type":"Point","coordinates":[2.5,3.5,9.0]}""")
    // 3001 = PointZM: four ordinates consumed, x/y/z rendered
    val zm = ByteBuffer.allocate(37).order(ByteOrder.LITTLE_ENDIAN)
    zm.put(1.toByte).putInt(3001).putDouble(1.0).putDouble(2.0)
      .putDouble(3.0).putDouble(4.0)
    assert(Geo.wkbToGeoJson(zm.array()) != null)
  }

  test("linestring and polygon render") {
    val ls = ByteBuffer.allocate(9 + 32).order(ByteOrder.LITTLE_ENDIAN)
    ls.put(1.toByte).putInt(2).putInt(2)
      .putDouble(0).putDouble(0).putDouble(1).putDouble(1)
    assert(Geo.wkbToGeoJson(ls.array()) ==
      """{"type":"LineString","coordinates":[[0.0,0.0],[1.0,1.0]]}""")

    val pg = ByteBuffer.allocate(9 + 4 + 4 * 16).order(ByteOrder.LITTLE_ENDIAN)
    pg.put(1.toByte).putInt(3).putInt(1).putInt(4)
      .putDouble(0).putDouble(0).putDouble(1).putDouble(0)
      .putDouble(1).putDouble(1).putDouble(0).putDouble(0)
    assert(Geo.wkbToGeoJson(pg.array()) ==
      """{"type":"Polygon","coordinates":[[[0.0,0.0],[1.0,0.0],[1.0,1.0],[0.0,0.0]]]}""")
  }

  test("hex string with prefix; garbage yields null") {
    val hex = Geo.pointWkb(5.5, 6.5).map(b => f"$b%02x").mkString
    assert(Geo.hexToGeoJson("\\x" + hex) ==
      """{"type":"Point","coordinates":[5.5,6.5]}""")
    assert(Geo.hexToGeoJson("0x" + hex) != null)
    assert(Geo.wkbToGeoJson(Array[Byte](9, 9, 9)) == null)
    assert(Geo.hexToGeoJson("zz") == null)
  }

  test("geojson writer emits valid FeatureCollection parts") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "name")
      .withColumn("geometry",
        Geo.mkPointWkb($"id".cast("double") + 0.5, org.apache.spark.sql.functions.lit(1.5)))
    val path = "/tmp/graft-test/geojson_out"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    GeoJsonWriter.write(df.repartition(2), path)

    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val parts = fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .filter(_.getPath.getName.startsWith("part-"))
    val total = parts.map { st =>
      val txt = new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(fs.open(st.getPath)),
        java.nio.charset.StandardCharsets.UTF_8)
      val root = mapper.readTree(txt)
      assert(root.get("type").asText == "FeatureCollection")
      root.get("features").size()
    }.sum
    assert(total == 3)

    // read back: properties become columns, geometry returns as GeoJSON
    val back = GeoJsonWriter.read(spark, path)
    assert(back.count() == 3)
    assert(back.columns.contains("geometry_geojson"))
    assert(back.columns.contains("id") && back.columns.contains("name"))
    val g1 = back.filter(back("id") === 1).head.getAs[String]("geometry_geojson")
    assert(g1.contains("\"Point\"") && g1.contains("1.5"))
  }
}
