package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ExcelIO

/** XLSX zip/OOXML round-trip, ranges, shared strings. */
class ExcelIOSpec extends AnyFunSuite with SparkSuite {

  test("A1 addressing helpers") {
    assert(ExcelIO.colIndex("A1") == 0)
    assert(ExcelIO.colIndex("Z9") == 25)
    assert(ExcelIO.colIndex("AA1") == 26)
    assert(ExcelIO.colLetter(0) == "A" && ExcelIO.colLetter(26) == "AA")
  }

  test("roundtrip: types re-inferred, special chars survive") {
    import spark.implicits._
    val df = Seq(
      (1L, "plain", 1.5, true),
      (2L, "x <&> \"quoted\"", -2.25, false),
      (3L, "naïve café", 0.0, true)).toDF("id", "s", "x", "ok")
    val path = "/tmp/graft-test/excel1.xlsx"
    ExcelIO.write(df, path)
    val back = ExcelIO.read(spark, path)
    assert(back.schema("id").dataType.typeName == "integer") // re-inferred
    assert(back.schema("x").dataType.typeName.startsWith("decimal"))
    assert(back.schema("ok").dataType.typeName == "boolean")
    val rows = back.orderBy("id").collect()
    assert(rows.map(_.getAs[String]("s")).toSeq ==
      Seq("plain", "x <&> \"quoted\"", "naïve café"))
  }

  test("range read selects a sub-rectangle") {
    import spark.implicits._
    val df = Seq((1, 10, 100), (2, 20, 200), (3, 30, 300)).toDF("a", "b", "c")
    val path = "/tmp/graft-test/excel2.xlsx"
    ExcelIO.write(df, path)
    // rows 1..3 (header at row1 skipped via header=true), cols B..C
    val back = ExcelIO.read(spark, path, range = Some("B1:C3"))
    assert(back.columns.toSeq == Seq("b", "c"))
    assert(back.count() == 2)
  }

  test("shared-strings cells resolve (files written by Excel)") {
    // hand-build a sheet using t="s" + sharedStrings.xml
    import java.util.zip.{ZipEntry, ZipOutputStream}
    val path = "/tmp/graft-test/excel3.xlsx"
    val sheet =
      """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">""" +
        """<sheetData><row r="1"><c r="A1" t="s"><v>0</v></c></row>""" +
        """<row r="2"><c r="A2" t="s"><v>1</v></c></row></sheetData></worksheet>"""
    val ss =
      """<?xml version="1.0"?><sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">""" +
        """<si><t>name</t></si><si><t>hello world</t></si></sst>"""
    val f = new java.io.File(path); f.getParentFile.mkdirs()
    val zip = new ZipOutputStream(new java.io.FileOutputStream(f))
    Seq("xl/worksheets/sheet1.xml" -> sheet, "xl/sharedStrings.xml" -> ss)
      .foreach { case (n, c) =>
        zip.putNextEntry(new ZipEntry(n)); zip.write(c.getBytes); zip.closeEntry()
      }
    zip.close()
    val back = ExcelIO.read(spark, path)
    assert(back.columns.toSeq == Seq("name"))
    assert(back.head.getString(0) == "hello world")
  }
}
