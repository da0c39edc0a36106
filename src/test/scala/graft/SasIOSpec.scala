package graft

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.SasIO

/** SAS7BDAT binary source: layout goldens, RLE codec properties, truncated
  * numerics, and full write→read roundtrips in every supported layout. */
class SasIOSpec extends AnyFunSuite with SparkSuite {

  private def sampleDf = {
    import spark.implicits._
    Seq(
      (1.0, "alpha", 10.25),
      (2.0, "beta", -3.5),
      (3.0, "gamma delta", 0.0),
      (4.0, null.asInstanceOf[String], 99999.125),
      (5.0, "epsilon", Double.NaN) // NaN encodes SAS missing -> null
    ).toDF("k", "name", "v")
      .select(col("k"), col("name"), when(isnan(col("v")), lit(null)).otherwise(col("v")).as("v"))
  }

  private def scratch(n: String) = s"/root/repo/target/graft-scratch/sas_$n"

  test("write -> read roundtrip, 32-bit uncompressed") {
    val p = scratch("rt32") + "/t.sas7bdat"
    SasIO.write(sampleDf, p)
    val back = SasIO.read(spark, p).orderBy("k").collect()
    assert(back.length == 5)
    assert(back(0) == Row(1.0, "alpha", 10.25))
    assert(back(2) == Row(3.0, "gamma delta", 0.0))
    assert(back(3).isNullAt(1) && back(3).getDouble(2) == 99999.125)
    assert(back(4).isNullAt(2)) // NaN round-trips as SQL null
  }

  test("write -> read roundtrip, u64 layout") {
    val p = scratch("rt64") + "/t.sas7bdat"
    SasIO.write(sampleDf, p, u64 = true)
    val back = SasIO.read(spark, p).orderBy("k").collect()
    assert(back.length == 5 && back(1) == Row(2.0, "beta", -3.5))
  }

  test("write -> read roundtrip, RLE compressed rows") {
    import spark.implicits._
    // long space/zero runs exercise every repeat command family
    val df = (1 to 300).map(i => (i.toDouble, "x" * (i % 7) + " " * 40, i * 1.5))
      .toDF("k", "pad", "v")
    val p = scratch("rtrle") + "/t.sas7bdat"
    SasIO.write(df, p, compress = true)
    val back = SasIO.read(spark, p).orderBy("k").collect()
    assert(back.length == 300)
    assert(back(9) == Row(10.0, "xxx", 15.0)) // trailing blanks trimmed
    assert(back(299) == Row(300.0, "x" * 6, 450.0)) // 300 % 7 = 6
  }

  test("u64 layout combined with RLE compression round-trips") {
    import spark.implicits._
    val df = (1 to 120).map(i => (i.toDouble, "pad " * 12 + i)).toDF("k", "s")
    val p = scratch("rt64rle") + "/t.sas7bdat"
    SasIO.write(df, p, u64 = true, compress = true)
    val back = SasIO.read(spark, p).orderBy("k").collect()
    assert(back.length == 120)
    assert(back(0) == Row(1.0, "pad " * 12 + "1"))
  }

  test("big-endian roundtrips: 32-bit, u64, compressed; truncated doubles") {
    val p32 = scratch("be32") + "/t.sas7bdat"
    SasIO.write(sampleDf, p32, be = true)
    val b32 = SasIO.read(spark, p32).orderBy("k").collect()
    assert(b32.length == 5 && b32(0) == Row(1.0, "alpha", 10.25))
    assert(b32(3).isNullAt(1) && b32(3).getDouble(2) == 99999.125)
    assert(b32(4).isNullAt(2))

    val p64 = scratch("be64") + "/t.sas7bdat"
    SasIO.write(sampleDf, p64, u64 = true, be = true)
    assert(SasIO.read(spark, p64).orderBy("k").collect()(1) == Row(2.0, "beta", -3.5))

    val pC = scratch("beRle") + "/t.sas7bdat"
    SasIO.write(sampleDf, pC, compress = true, be = true)
    assert(SasIO.read(spark, pC).orderBy("k").collect()(0) == Row(1.0, "alpha", 10.25))

    // BE truncated doubles keep the LEADING bytes of the 8-byte BE form
    for (w <- 3 to 8; v <- Seq(1.0, -2.5, 123456.789, 1e300)) {
      val full = java.nio.ByteBuffer.allocate(8)
        .order(java.nio.ByteOrder.BIG_ENDIAN).putDouble(v).array()
      val stored = java.util.Arrays.copyOfRange(full, 0, w)
      val got = SasIO.decodeNumeric(stored, 0, w, be = true)
      val expected = {
        val padded = java.util.Arrays.copyOf(stored, 8)
        java.nio.ByteBuffer.wrap(padded)
          .order(java.nio.ByteOrder.BIG_ENDIAN).getDouble
      }
      assert(got == expected, s"w=$w v=$v")
    }
  }

  test("multi-page data files split across tasks") {
    import spark.implicits._
    val df = (1 to 5000).map(i => (i.toDouble, s"row_$i")).toDF("k", "s")
    val p = scratch("multipage") + "/t.sas7bdat"
    SasIO.write(df, p, pageLen = 4096) // forces many data pages
    val back = SasIO.read(spark, p)
    assert(back.rdd.getNumPartitions >= 1)
    assert(back.count() == 5000)
    assert(back.agg(sum("k")).head.getDouble(0) == 5000.0 * 5001 / 2)
  }

  test("header golden bytes: magic, alignment, endianness, page geometry") {
    val p = scratch("golden") + "/t.sas7bdat"
    SasIO.write(sampleDf, p, pageLen = 0x10000)
    val in = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    assert(in.take(32).sameElements(SasIO.Magic))
    assert((in(32) & 0xff) == 0x22 && (in(35) & 0xff) == 0x22) // 32-bit marks
    assert((in(37) & 0xff) == 0x01) // little-endian
    val bb = ByteBuffer.wrap(in).order(ByteOrder.LITTLE_ENDIAN)
    assert(bb.getInt(196) == 1024) // header length
    assert(bb.getInt(200) == 0x10000) // page size
    assert(bb.getInt(204) == 2) // one meta page + one data page
    assert(in.length == 1024 + 2 * 0x10000)
    // u64 variant flips the markers and widens the header
    val p64 = scratch("golden64") + "/t.sas7bdat"
    SasIO.write(sampleDf, p64, u64 = true)
    val h64 = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p64))
    assert((h64(32) & 0xff) == 0x33 && (h64(35) & 0xff) == 0x33)
    assert(ByteBuffer.wrap(h64).order(ByteOrder.LITTLE_ENDIAN).getInt(200) == 8192)
  }

  test("truncated numerics: 3..8 byte doubles decode the high bytes") {
    for (w <- 3 to 8) {
      val full = new Array[Byte](8)
      ByteBuffer.wrap(full).order(ByteOrder.LITTLE_ENDIAN).putDouble(1234.5)
      // stored bytes = most-significant w bytes of the LE representation
      val stored = java.util.Arrays.copyOfRange(full, 8 - w, 8)
      val got = SasIO.decodeNumeric(stored, 0, w)
      assert(got == 1234.5, s"width $w") // 1234.5 needs few mantissa bytes
    }
    // NaN (SAS missing) decodes to null at any width
    val nanFull = new Array[Byte](8)
    ByteBuffer.wrap(nanFull).order(ByteOrder.LITTLE_ENDIAN).putDouble(Double.NaN)
    assert(SasIO.decodeNumeric(java.util.Arrays.copyOfRange(nanFull, 2, 8), 0, 6) == null)
  }

  test("RLE codec: compress/decompress inverse on adversarial buffers") {
    val rnd = new scala.util.Random(42)
    val cases = Seq(
      Array.fill[Byte](0)(0),
      Array.fill[Byte](17)(0),
      Array.fill[Byte](18)(' '.toByte),
      Array.fill[Byte](4200)(0), // beyond one command's max run
      Array.fill[Byte](4200)('q'.toByte),
      Array.tabulate[Byte](100)(i => i.toByte), // pure literal
      Array.tabulate[Byte](5000)(i => (i % 251).toByte), // long literal (>4159)
      (Array.fill[Byte](30)('a'.toByte) ++ Array.tabulate[Byte](10)(_.toByte)
        ++ Array.fill[Byte](2)(0) ++ Array.fill[Byte](3)(0)), // mixed + short runs
      Array.fill[Byte](64)(7.toByte) ++ Array.fill[Byte](65)(9.toByte)
    ) ++ (1 to 20).map(_ => Array.fill[Byte](rnd.nextInt(2000))(0).map(_ =>
      if (rnd.nextBoolean()) rnd.nextInt(4).toByte else rnd.nextInt(256).toByte))
    for ((c, i) <- cases.zipWithIndex) {
      val packed = SasIO.Rle.compress(c)
      val back = SasIO.Rle.decompress(packed, 0, packed.length, c.length)
      assert(back.sameElements(c), s"case $i len=${c.length}")
    }
  }

  test("RLE command decode goldens from the public spec table") {
    // 0x05: copy 6 literal bytes (command 0, needs next byte: n=next+64)...
    // exercise the documented command semantics directly
    def dec(bytes: Int*) = {
      val a = bytes.map(_.toByte).toArray
      SasIO.Rle.decompress(a, 0, a.length, 64)
    }
    // command C: repeat next byte nib+3 times -> 0xC2 0x41 = 'AAAAA'
    assert(new String(dec(0xc2, 0x41), 0, 5, "ASCII") == "AAAAA")
    // command F: nib+2 zeros -> 0xF3 = five zero bytes
    assert(dec(0xf3).take(5).forall(_ == 0))
    // command E: nib+2 blanks
    assert(new String(dec(0xe1), 0, 3, "ASCII") == "   ")
    // command 8: copy nib+1 literals -> 0x82 'x' 'y' 'z'
    assert(new String(dec(0x82, 'x', 'y', 'z'), 0, 3, "ASCII") == "xyz")
    // command 4: repeat byte (nib<<8)+next+18 times -> 0x40 0x00 'B' = 18 B's
    assert(new String(dec(0x40, 0x00, 'B'), 0, 18, "ASCII") == "B" * 18)
    // command 6: (nib<<8)+next+17 blanks
    assert(new String(dec(0x60, 0x03), 0, 20, "ASCII") == " " * 20)
  }

  test("mix page hand-built from the spec: rows follow subheaders, 8-aligned") {
    // The writer never emits mix pages, so lay one out byte-by-byte —
    // this pins the reader to the public layout, not to writer reciprocity.
    val pageLen = 2048
    val file = new Array[Byte](1024 + pageLen)
    System.arraycopy(SasIO.Magic, 0, file, 0, 32)
    file(32) = 0x22; file(35) = 0x22; file(37) = 0x01; file(39) = '1'
    val hb = ByteBuffer.wrap(file).order(ByteOrder.LITTLE_ENDIAN)
    hb.putInt(196, 1024); hb.putInt(200, pageLen); hb.putInt(204, 1)

    val pg = ByteBuffer.wrap(file, 1024, pageLen).slice().order(ByteOrder.LITTLE_ENDIAN)
    // two columns: n double (offset 0 w8 type1), s char (offset 8 w4 type2)
    val rowLen = 12
    // subheader contents packed from the page tail
    val rowSize = new Array[Byte](480)
    val rsb = ByteBuffer.wrap(rowSize).order(ByteOrder.LITTLE_ENDIAN)
    rsb.putInt(0, 0xf7f7f7f7); rsb.putInt(20, rowLen); rsb.putInt(24, 2); rsb.putInt(60, 2)
    val colSize = new Array[Byte](12)
    val csb = ByteBuffer.wrap(colSize).order(ByteOrder.LITTLE_ENDIAN)
    csb.putInt(0, 0xf6f6f6f6); csb.putInt(4, 2)
    val text = new Array[Byte](4 + 20)
    val tb = ByteBuffer.wrap(text).order(ByteOrder.LITTLE_ENDIAN)
    tb.putInt(0, 0xfffffffd); tb.putShort(4, 20.toShort)
    java.util.Arrays.fill(text, 8, 16, ' '.toByte) // 8-byte literal slot
    text(16) = 'n'; text(20) = 's'
    val names = new Array[Byte](36)
    val nb = ByteBuffer.wrap(names).order(ByteOrder.LITTLE_ENDIAN)
    nb.putInt(0, 0xffffffff)
    nb.putShort(12, 0.toShort); nb.putShort(14, 12.toShort); nb.putShort(16, 1.toShort)
    nb.putShort(20, 0.toShort); nb.putShort(22, 16.toShort); nb.putShort(24, 1.toShort)
    val attrs = new Array[Byte](44)
    val ab = ByteBuffer.wrap(attrs).order(ByteOrder.LITTLE_ENDIAN)
    ab.putInt(0, 0xfffffffc)
    ab.putInt(12, 0); ab.putInt(16, 8); attrs(22) = 1  // n: off 0, w 8, numeric
    ab.putInt(24, 8); ab.putInt(28, 4); attrs(34) = 2  // s: off 8, w 4, char
    val subs = Seq(rowSize, colSize, text, names, attrs)

    pg.putShort(16, 0x0200.toShort)          // mix page
    pg.putShort(18, (subs.length + 2).toShort) // block count = subs + rows
    pg.putShort(20, subs.length.toShort)
    var tail = pageLen
    subs.zipWithIndex.foreach { case (content, i) =>
      tail -= content.length
      for (j <- content.indices) pg.put(tail + j, content(j))
      pg.putInt(24 + i * 12, tail); pg.putInt(24 + i * 12 + 4, content.length)
    }
    // rows 8-aligned after the 5 pointers: base = 24+60 = 84 -> 88
    val base = 88
    pg.putDouble(base, 1.5); pg.put(base + 8, Array[Byte]('a', 'b', ' ', ' '))
    pg.putDouble(base + 12, 2.5); pg.put(base + 20, Array[Byte]('c', 'd', 'e', 'f'))

    val path = scratch("mixpage") + "/t.sas7bdat"
    val fsp = new org.apache.hadoop.fs.Path(path)
    val fs = fsp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(fsp, true); out.write(file); out.close()
    val got = SasIO.read(spark, path).orderBy("n").collect()
    assert(got.length == 2)
    assert(got(0) == Row(1.5, "ab"))
    assert(got(1) == Row(2.5, "cdef"))
  }

  test("compressed row whose bytes collide with a meta signature survives") {
    import spark.implicits._
    // first numeric's low 4 bytes == F7F7F7F7 (the row-size signature);
    // rows are classified by pointer flags, so this must NOT be skipped
    val collider = java.lang.Double.longBitsToDouble(0x41F7F7F7F7F7F7F7L)
    val df = Seq((collider, "sig-collider"), (1.5, "plain")).toDF("d", "s")
    val p = scratch("sigcollide") + "/t.sas7bdat"
    SasIO.write(df, p, compress = true)
    val back = SasIO.read(spark, p).orderBy("s").collect()
    assert(back.length == 2)
    assert(back(1) == Row(collider, "sig-collider"))
  }

  test("rows wider than the default page auto-grow the page size") {
    import spark.implicits._
    val wide = "w" * 70000 // > default 0x10000 page
    val df = Seq((1.0, wide), (2.0, "small")).toDF("k", "s")
    val p = scratch("widerow") + "/t.sas7bdat"
    SasIO.write(df, p)
    val back = SasIO.read(spark, p).orderBy("k").collect()
    assert(back(0).getString(1) == wide)
    assert(back(1) == Row(2.0, "small"))
    // compressed path too
    val pc = scratch("widerow_rle") + "/t.sas7bdat"
    SasIO.write(df, pc, compress = true)
    assert(SasIO.read(spark, pc).count() == 2)
  }

  test("reader rejects non-sas input") {
    val bad = scratch("bad") + "/t.sas7bdat"
    val fs = new org.apache.hadoop.fs.Path(bad)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(bad), true)
    out.write(Array.fill[Byte](2048)(1)); out.close()
    val e = intercept[Exception](SasIO.read(spark, bad))
    assert(e.getMessage.contains("magic"))
  }

  test("wide strings and many columns survive the roundtrip") {
    import spark.implicits._
    val df = (1 to 50).map { i =>
      (i.toDouble, "s" * 200 + i, i * 2.0, "t" + i, i * 3.0, "u" * (i % 11))
    }.toDF("a", "b", "c", "d", "e", "f")
    val p = scratch("wide") + "/t.sas7bdat"
    SasIO.write(df, p)
    val back = SasIO.read(spark, p).orderBy("a").collect()
    assert(back.length == 50)
    assert(back(0).getString(1) == "s" * 200 + "1")
    assert(back(49).getString(5) == "u" * 6) // index 49 is i=50; 50 % 11 = 6
  }

  test("RDC decode goldens: literals, RLE commands, back-references") {
    import graft.sources.SasIO.Rdc
    // hand-built stream: ctrl=0b0100_0000_0000_0000 → literal 'A', then
    // short RLE cmd 0 nib 2 (n=5) of 'B' → "ABBBBB"
    val s1 = Array[Byte](0x40, 0x00, 'A', 0x02, 'B')
    assert(new String(Rdc.decompress(s1, 0, s1.length, 6)) == "ABBBBB")
    // back-reference: 4 literals "ABCD", then short pattern cmd=4 nib=1
    // ofs=1+3+0<<4=4, copy 4 → "ABCDABCD". ctrl bits: 0,0,0,0,1 → 0x0800
    val s2 = Array[Byte](0x08, 0x00, 'A', 'B', 'C', 'D', 0x41, 0x00)
    assert(new String(Rdc.decompress(s2, 0, s2.length, 8)) == "ABCDABCD")
    // overlapping back-reference: literal 'x' then cmd=5 ofs=0+3+0... need
    // ofs=1: nib+3+next<<4=1 impossible (min 3) → use 3 literals 'xyz' and
    // ofs=3 n=6 (cmd 6, nib 0, next 0): "xyzxyzxyz"
    val s3 = Array[Byte](0x10, 0x00, 'x', 'y', 'z', 0x60, 0x00)
    assert(new String(Rdc.decompress(s3, 0, s3.length, 9)) == "xyzxyzxyz")
    // long back-reference cmd 2: 3 literals then ofs=3, n=16+2=18
    val s4 = Array[Byte](0x10, 0x00, 'p', 'q', 'r', 0x20, 0x00, 0x02)
    assert(new String(Rdc.decompress(s4, 0, s4.length, 21)) == "pqr" * 7)
    // long RLE cmd 1: n = 2 + (1<<4) + 19 = 37 'Z's
    val s5 = Array[Byte](0x80.toByte, 0x00, 0x12, 0x01, 'Z')
    assert(new String(Rdc.decompress(s5, 0, s5.length, 37)) == "Z" * 37)
  }

  test("RDC codec: compress/decompress inverse on adversarial buffers") {
    import graft.sources.SasIO.Rdc
    val rnd = new scala.util.Random(77)
    val cases = Seq(
      Array.empty[Byte],
      "no runs at all, purely literal text".getBytes,
      Array.fill[Byte](5000)(0),
      ("x" * 17 + "y" * 18 + "z" * 19 + "w" * 4114 + "tail").getBytes,
      Array.tabulate[Byte](997)(i => (i % 7).toByte)) ++
      (1 to 20).map(_ => Array.fill[Byte](rnd.nextInt(2000))(
        (rnd.nextInt(4) match {
          case 0 => 0; case 1 => ' '; case 2 => 'a' + rnd.nextInt(3)
          case _ => rnd.nextInt(256)
        }).toByte))
    cases.zipWithIndex.foreach { case (buf, i) =>
      val c = Rdc.compress(buf)
      val back = Rdc.decompress(c, 0, c.length, buf.length)
      assert(back.toSeq == buf.toSeq, s"case $i len=${buf.length}")
    }
  }

  test("RDC write -> read roundtrip through the page reader") {
    import spark.implicits._
    val df = (1 to 500).map(i =>
      (i.toDouble, ("v" * (i % 13)) + i, (i % 97).toDouble))
      .toDF("k", "s", "m")
    val path = "/tmp/graft-test/sas_rdc_rt.sas7bdat"
    SasIO.write(df, path, compress = true, codec = "rdc")
    val back = SasIO.read(spark, path).orderBy("k").collect()
    assert(back.length == 500)
    assert(back(0).getDouble(0) == 1.0 && back(0).getString(1) == "v1")
    assert(back(499).getString(1) == "v" * (500 % 13) + "500")
  }

  test("property: LE and BE files decode identically across layouts/codecs") {
    import spark.implicits._
    val rnd = new scala.util.Random(0xBE17)
    val rows = (1 to 120).map { i =>
      val d =
        if (i % 17 == 0) Double.NaN
        else if (i % 13 == 0) -0.0
        else rnd.nextDouble() * math.pow(10, rnd.nextInt(8) - 4)
      val s =
        if (i % 11 == 0) null
        else rnd.alphanumeric.take(rnd.nextInt(12)).mkString
      (i.toDouble, s, d)
    }
    val df = rows.toDF("k", "s", "v")
    for (u64 <- Seq(false, true); compress <- Seq(false, true)) {
      val pLe = scratch(s"prop_le_${u64}_$compress") + "/t.sas7bdat"
      val pBe = scratch(s"prop_be_${u64}_$compress") + "/t.sas7bdat"
      SasIO.write(df, pLe, u64 = u64, compress = compress)
      SasIO.write(df, pBe, u64 = u64, compress = compress, be = true)
      val le = SasIO.read(spark, pLe).orderBy("k").collect().toSeq
      val be = SasIO.read(spark, pBe).orderBy("k").collect().toSeq
      assert(le == be, s"u64=$u64 compress=$compress")
      assert(le.size == 120)
    }
  }

  test("corrupt RDC streams fail with a parse error, not array-bounds") {
    // command byte announcing a two-operand copy, but the stream ends
    val truncated = Array[Byte](0x80.toByte, 0x00, 0x20)
    val e1 = intercept[IllegalArgumentException] {
      SasIO.Rdc.decompress(truncated, 0, truncated.length, 16)
    }
    assert(e1.getMessage.contains("corrupt RDC"))
    // back-reference pointing before the start of the output
    val badBack = Array[Byte](0x80.toByte, 0x00, 0x35, 0x00)
    val e2 = intercept[IllegalArgumentException] {
      SasIO.Rdc.decompress(badBack, 0, badBack.length, 16)
    }
    assert(e2.getMessage.contains("back-reference"))
  }

  test("writer row cap probes before collecting and fails fast") {
    val big = spark.range(0, 1000).selectExpr("CAST(id AS DOUBLE) AS x")
    intercept[IllegalArgumentException] {
      SasIO.write(big, "/tmp/graft-test/sas_cap.sas7bdat", maxRows = 100)
    }
  }
}
