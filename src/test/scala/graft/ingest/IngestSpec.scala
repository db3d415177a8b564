package graft.ingest

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class IngestSpec extends SparkSpec {
  import spark.implicits._

  test("S3 melt: wide hourly sheet → long (hora, volumenes), nulls dropped") {
    val wide = Seq(
      ("UP1", "2024-01-01", Some(1.5), Some(2.5), None),
      ("UP2", "2024-01-01", None, Some(4.0), Some(5.0)))
      .toDF("up", "fecha", "1", "2", "3")
    val long = Ingest.melt(wide, Seq("up", "fecha"), Seq("1", "2", "3"))
    assert(long.count() == 4) // 6 cells − 2 nulls
    val r = long.filter(col("up") === "UP1" && col("hora") === "2")
      .select("volumenes").as[Double].head()
    assert(r == 2.5)
    assert(long.columns.sameElements(Array("up", "fecha", "hora", "volumenes")))
  }

  /** The engine's melt before it became one generator: `unpivot`. */
  private def unpivotMelt(df: DataFrame, ids: Seq[String], values: Seq[String],
      varName: String, valName: String) =
    df.unpivot(ids.map(col).toArray, values.map(col).toArray, varName, valName)
      .filter(col(valName).isNotNull)

  private def sameMultiset(a: DataFrame, b: DataFrame): Unit = {
    assert(a.schema.map(f => (f.name, f.dataType)) ==
      b.schema.map(f => (f.name, f.dataType)))
    assert(a.count() == b.count())
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("S3 melt equals unpivot on a 131-column I90-shaped sheet, without Expand") {
    val ids = Seq("Unidad de Programación", "fecha", "Sentido", "Redespacho",
      "granularity")
    val values = (0 until 24).map(h => f"$h%02d-${h + 1}%02d") ++
      Seq("02-03a", "02-03b") ++ (1 to 100).map(_.toString)
    val wide = spark.range(60).select(Seq(
        concat(lit("UP"), (col("id") % 7).cast(StringType)).as(ids(0)),
        date_add(lit("2024-03-30").cast(DateType), (col("id") % 3).cast(IntegerType))
          .as(ids(1)),
        when(col("id") % 2 === 0, "Subir").otherwise("Bajar").as(ids(2)),
        lit("Terciaria").as(ids(3)),
        when(col("id") % 4 === 0, "Quince minutos").otherwise("Hora").as(ids(4))) ++
      values.zipWithIndex.map { case (c, i) =>
        when((col("id") + i) % 5 === 0, lit(null).cast(DoubleType))
          .otherwise(col("id") * 1.5 + i).as(c)
      }: _*)
    val melted = Ingest.melt(wide, ids, values)
    val reference = unpivotMelt(wide, ids, values, "hora", "volumenes")
    assert(melted.columns.toSeq == ids ++ Seq("hora", "volumenes"))
    assert(melted.count() == 60L * 126 - 60L * 126 / 5) // every 5th cell null
    sameMultiset(melted, reference)
    // past spark.sql.codegen.maxFields unpivot is an interpreted Expand
    assert(reference.queryExecution.executedPlan.toString.contains("Expand"))
    val plan = melted.queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), s"melt still expands:\n$plan")
  }

  test("S3 melt widens mixed value columns to unpivot's type") {
    val df = Seq((1, Some(2), Some(2.5), BigDecimal("3.25")),
        (2, None, Some(7.0), BigDecimal("-1.50")),
        (3, Some(4), None, null))
      .toDF("k", "i", "d", "dec")
      .withColumn("dec", col("dec").cast(DecimalType(10, 2)))
    for ((values, widened) <- Seq(Seq("i", "d") -> DoubleType,
        Seq("i", "dec") -> DecimalType(12, 2))) {
      val melted = Ingest.melt(df, Seq("k"), values, "v", "x")
      assert(melted.schema("x").dataType == widened)
      sameMultiset(melted, unpivotMelt(df, Seq("k"), values, "v", "x"))
    }
  }

  test("F11 zero pruning after melt") {
    val df = Seq(("a", 0.0), ("b", 1.0)).toDF("k", "volumenes")
    assert(Ingest.pruneZeroValues(df).select("k").as[String].collect()
      .sameElements(Array("b")))
  }

  test("SC1 European decimal parse") {
    val out = Seq("1.234,56", "12,5", "1.000.000,00").toDF("s")
      .select(Ingest.parseEuropeanDecimal(col("s"))).as[Double].collect()
    assert(out.sameElements(Array(1234.56, 12.5, 1000000.0)))
  }

  test("S4 OMIE CSV dialect: ';' sep, latin-1, 2-line preamble skipped") {
    val dir = tmpDir()
    val content = "OMIE - preamble title;;;\n\nUP1;Venta;1.234,56\nUP2;Compra;7,5\n"
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/day1.csv"),
      content.getBytes("ISO-8859-1"))
    val schema = StructType(Seq(
      StructField("unidad", StringType), StructField("tipo", StringType),
      StructField("energia", StringType)))
    val df = Ingest.readOmieCsv(spark, s"$dir/day1.csv", schema, skipLines = 2)
      .withColumn("energia", Ingest.parseEuropeanDecimal(col("energia")))
    val rows = df.orderBy("unidad").as[(String, String, Double)].collect()
    assert(rows.sameElements(Array(("UP1", "Venta", 1234.56), ("UP2", "Compra", 7.5))))
  }

  test("S2 zipped source: real zip, entry filter, preamble skip, schema'd rows") {
    val dir = tmpDir()
    def zipWith(path: String, entries: (String, String)*): Unit = {
      val zos = new java.util.zip.ZipOutputStream(
        new java.io.FileOutputStream(path))
      entries.foreach { case (name, content) =>
        zos.putNextEntry(new java.util.zip.ZipEntry(name))
        zos.write(content.getBytes("ISO-8859-1"))
        zos.closeEntry()
      }
      zos.close()
    }
    // two daily archives; each holds a matching sheet file + noise entries
    zipWith(s"$dir/I90DIA_20240701.zip",
      "I90DIA03.csv" -> "titulo;;\nfecha;;\nUP1;Subir;10,5\nUP2;Bajar;3,0\n",
      "leeme.txt" -> "not;a;sheet")
    zipWith(s"$dir/I90DIA_20240702.zip",
      "I90DIA03.csv" -> "titulo;;\nfecha;;\nUP3;Subir;7,25\n",
      "I90DIA99.csv" -> "x;y;z\nq;w;e\nshould;not;appear")
    val schema = StructType(Seq(
      StructField("up", StringType), StructField("sentido", StringType),
      StructField("energia", StringType)))
    val df = Ingest.readZippedCsv(spark, dir, "I90DIA03", schema, skipLines = 2)
      .withColumn("energia", Ingest.parseEuropeanDecimal(col("energia")))
    val rows = df.orderBy("up").as[(String, String, Double)].collect()
    assert(rows.sameElements(Array(
      ("UP1", "Subir", 10.5), ("UP2", "Bajar", 3.0), ("UP3", "Subir", 7.25))))
  }

  /** A minimal REAL xlsx: zip of OOXML parts — workbook + rels + shared
    * strings (incl. a rich-text run) + two sheets exercising shared,
    * inline-string, numeric and sparse cells.
    */
  private def xlsxBytes: Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val zos = new java.util.zip.ZipOutputStream(bos)
    def put(name: String, content: String): Unit = {
      zos.putNextEntry(new java.util.zip.ZipEntry(name))
      zos.write(content.getBytes("UTF-8")); zos.closeEntry()
    }
    val mainNs = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    val rNs = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    put("xl/workbook.xml",
      s"""<?xml version="1.0"?>
         |<workbook xmlns="$mainNs" xmlns:r="$rNs"><sheets>
         |<sheet name="I90DIA01" sheetId="1" r:id="rId1"/>
         |<sheet name="Resumen" sheetId="2" r:id="rId2"/>
         |</sheets></workbook>""".stripMargin)
    put("xl/_rels/workbook.xml.rels",
      """<?xml version="1.0"?>
        |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |<Relationship Id="rId1" Type="t" Target="worksheets/sheet1.xml"/>
        |<Relationship Id="rId2" Type="t" Target="worksheets/sheet2.xml"/>
        |</Relationships>""".stripMargin)
    // si[0] plain, si[1] rich-text runs concatenating to "Unidad de Programación"
    put("xl/sharedStrings.xml",
      """<?xml version="1.0"?>
        |<sst><si><t>UP7</t></si>
        |<si><r><t>Unidad de </t></r><r><t>Programación</t></r></si></sst>"""
        .stripMargin)
    // header row + 2 data rows; row 3 leaves B empty (sparse C-only cell)
    put("xl/worksheets/sheet1.xml",
      """<?xml version="1.0"?>
        |<worksheet><sheetData>
        |<row r="1"><c r="A1" t="s"><v>1</v></c>
        |  <c r="B1" t="inlineStr"><is><t>00-01</t></is></c>
        |  <c r="C1" t="inlineStr"><is><t>01-02</t></is></c></row>
        |<row r="2"><c r="A2" t="s"><v>0</v></c><c r="B2"><v>42.5</v></c>
        |  <c r="C2"><v>7</v></c></row>
        |<row r="3"><c r="A3" t="inlineStr"><is><t>UP9</t></is></c>
        |  <c r="C3"><v>3.25</v></c></row>
        |</sheetData></worksheet>""".stripMargin)
    put("xl/worksheets/sheet2.xml",
      """<?xml version="1.0"?>
        |<worksheet><sheetData>
        |<row r="1"><c r="A1" t="inlineStr"><is><t>nope</t></is></c></row>
        |</sheetData></worksheet>""".stripMargin)
    zos.close()
    bos.toByteArray
  }

  test("S2 xlsx codec: real workbook, sheet filter, shared/inline/sparse cells") {
    val dir = tmpDir()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/I90DIA_20240101.xlsx"), xlsxBytes)
    val df = Ingest.readXlsx(spark, dir, "^I90DIA")
    val rows = df.orderBy("row_idx")
      .as[(String, Int, Seq[String])].collect()
    assert(rows.map(_._1).forall(_ == "I90DIA01")) // Resumen filtered out
    assert(rows(0) == (("I90DIA01", 0,
      Seq("Unidad de Programación", "00-01", "01-02"))))
    assert(rows(1) == (("I90DIA01", 1, Seq("UP7", "42.5", "7"))))
    assert(rows(2) == (("I90DIA01", 2, Seq("UP9", "", "3.25")))) // B3 padded
  }

  /** Hand-built BIFF8 .xls fixture: a real OLE2/CFB container (header,
    * DIFAT, FAT, directory, Workbook stream) holding a BIFF8 record stream
    * with an SST split across a CONTINUE record, two sheets, and every
    * cell-record family the codec supports.
    */
  private def xlsBytes: Array[Byte] = {
    import java.nio.{ByteBuffer, ByteOrder}
    def le(n: Int) = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)
    def rec(id: Int, data: Array[Byte]): Array[Byte] = {
      val b = le(4 + data.length)
      b.putShort(id.toShort).putShort(data.length.toShort).put(data); b.array
    }
    def u16b(v: Int) = le(2).putShort(v.toShort).array
    def i32b(v: Int) = le(4).putInt(v).array
    def cat(xs: Array[Byte]*): Array[Byte] = xs.flatten.toArray
    // compressed (latin-1) string bodies — all fixture chars are < 0x100,
    // including 'ó', so the 8-bit path and its flag byte get exercised
    def comp(s: String): Array[Byte] =
      s.map(c => { assert(c < 0x100); c.toByte }).toArray
    def shortStr(s: String) = cat(Array(s.length.toByte, 0.toByte), comp(s))
    def inlineStr(s: String) = cat(u16b(s.length), Array(0.toByte), comp(s))
    def cellHdr(r: Int, c: Int) = cat(u16b(r), u16b(c), u16b(0))
    def rkInt(v: Int, x100: Boolean = false): Int =
      (v << 2) | 2 | (if (x100) 1 else 0)
    def rkFloat(v: Double): Int = {
      val bits = java.lang.Double.doubleToLongBits(v)
      assert((bits & 0x3ffffffffL) == 0, s"$v not RK-encodable")
      ((bits >>> 32) & 0xfffffffcL).toInt
    }
    def numBits(v: Double): Array[Byte] =
      le(8).putLong(java.lang.Double.doubleToLongBits(v)).array

    // SST: 5 strings; "01-02" (index 2) splits mid-chars into a CONTINUE,
    // whose first byte restates the compression flag
    val strs = Seq("Unidad de Programación", "00-01", "01-02", "UP7", "UP9")
    val sstHead = cat(i32b(7), i32b(strs.length),
      cat(u16b(strs(0).length), Array(0.toByte), comp(strs(0))),
      cat(u16b(strs(1).length), Array(0.toByte), comp(strs(1))),
      cat(u16b(strs(2).length), Array(0.toByte), comp(strs(2).take(2))))
    val sstCont = cat(Array(0.toByte), comp(strs(2).drop(2)),
      cat(u16b(strs(3).length), Array(0.toByte), comp(strs(3))),
      cat(u16b(strs(4).length), Array(0.toByte), comp(strs(4))))

    def bof(typ: Int) = rec(0x0809,
      cat(u16b(0x0600), u16b(typ), u16b(0), u16b(0), i32b(0), i32b(0)))
    val sheet1 = cat(
      bof(0x0010),
      rec(0x00fd, cat(cellHdr(0, 0), i32b(0))), // header via LABELSST
      rec(0x00fd, cat(cellHdr(0, 1), i32b(1))),
      rec(0x00fd, cat(cellHdr(0, 2), i32b(2))),
      rec(0x00fd, cat(cellHdr(1, 0), i32b(3))), // UP7
      rec(0x0203, cat(cellHdr(1, 1), numBits(42.5))), // NUMBER
      rec(0x027e, cat(cellHdr(1, 2), i32b(rkInt(7)))), // RK int
      rec(0x00fd, cat(cellHdr(2, 0), i32b(4))), // UP9
      rec(0x0201, cellHdr(2, 1)), // BLANK
      rec(0x027e, cat(cellHdr(2, 2), i32b(rkFloat(3.25)))), // RK float
      rec(0x0204, cat(cellHdr(3, 0), inlineStr("UPX"))), // inline LABEL
      // MULRK: cols 1-2 = 100 (int), 2.5 (int ÷100)
      rec(0x00bd, cat(u16b(3), u16b(1), u16b(0), i32b(rkInt(100)),
        u16b(0), i32b(rkInt(250, x100 = true)), u16b(2))),
      // FORMULA with cached numeric result
      rec(0x0006, cat(cellHdr(4, 1), numBits(9.5), u16b(0), i32b(0),
        u16b(0))), // empty parsed-expression tail
      // FORMULA with string result → STRING record follows
      rec(0x0006, cat(cellHdr(4, 0),
        Array(0.toByte, 0, 0, 0, 0, 0, 0xff.toByte, 0xff.toByte),
        u16b(0), i32b(0), u16b(0))),
      rec(0x0207, inlineStr("calc")),
      rec(0x000a, Array.empty[Byte]))
    val sheet2 = cat(bof(0x0010),
      rec(0x0204, cat(cellHdr(0, 0), inlineStr("nope"))),
      rec(0x000a, Array.empty[Byte]))

    // globals: BOF, SST(+CONTINUE), BOUNDSHEETs (stream offsets), EOF
    def boundSheet(off: Int, name: String) =
      rec(0x0085, cat(i32b(off), u16b(0), shortStr(name)))
    def globalsOf(o1: Int, o2: Int) = cat(
      bof(0x0005), rec(0x00fc, sstHead), rec(0x003c, sstCont),
      boundSheet(o1, "I90DIA01"), boundSheet(o2, "Resumen"),
      rec(0x000a, Array.empty[Byte]))
    val gLen = globalsOf(0, 0).length // offsets don't change record sizes
    val wb = cat(globalsOf(gLen, gLen + sheet1.length), sheet1, sheet2)

    // CFB container: sector 0 = FAT, 1 = directory, 2.. = Workbook stream
    // (padded past the 4096-byte mini cutoff so it lives in the main FAT)
    val padded = java.util.Arrays.copyOf(wb, math.max(wb.length, 4096))
    val ssz = 512
    val nStream = (padded.length + ssz - 1) / ssz
    val total = 2 + nStream
    assert(total <= ssz / 4)
    val buf = le((total + 1) * ssz)
    buf.put(Array(0xd0, 0xcf, 0x11, 0xe0, 0xa1, 0xb1, 0x1a, 0xe1)
      .map(_.toByte))
    buf.position(24)
    buf.putShort(0x3e).putShort(3).putShort(0xfffe.toShort)
      .putShort(9).putShort(6) // sector shift 512, mini shift 64
    buf.position(44)
    buf.putInt(1).putInt(1) // one FAT sector; directory at sector 1
    buf.position(56)
    buf.putInt(4096).putInt(-2).putInt(0).putInt(-2).putInt(0)
    buf.putInt(0) // DIFAT[0]: the FAT lives in sector 0
    (1 until 109).foreach(_ => buf.putInt(-1))
    buf.position(ssz) // FAT sector
    buf.putInt(-3).putInt(-2) // sector 0 FATSECT, sector 1 end-of-chain
    (0 until nStream).foreach(i =>
      buf.putInt(if (i == nStream - 1) -2 else 3 + i))
    (total until ssz / 4).foreach(_ => buf.putInt(-1))
    def dirEntry(pos: Int, name: String, typ: Int, start: Int, size: Int): Unit = {
      val o = 2 * ssz + pos * 128
      val nb = name.getBytes(java.nio.charset.StandardCharsets.UTF_16LE)
      buf.position(o); buf.put(nb)
      buf.position(o + 64); buf.putShort((nb.length + 2).toShort)
      buf.put(o + 66, typ.toByte)
      buf.position(o + 116); buf.putInt(start).putInt(size)
    }
    dirEntry(0, "Root Entry", 5, -2, 0)
    dirEntry(1, "Workbook", 2, 2, padded.length)
    buf.position(3 * ssz); buf.put(padded)
    buf.array
  }

  test("S2 legacy .xls codec: real CFB container + BIFF8 records") {
    val dir = tmpDir()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/I90DIA_20240101.xls"), xlsBytes)
    // same reader entry point — format dispatch is by magic bytes
    val rows = Ingest.readXlsx(spark, dir, "^I90DIA")
      .orderBy("row_idx").as[(String, Int, Seq[String])].collect()
    assert(rows.map(_._1).forall(_ == "I90DIA01")) // Resumen filtered out
    assert(rows(0) == (("I90DIA01", 0,
      Seq("Unidad de Programación", "00-01", "01-02")))) // SST incl. CONTINUE split
    assert(rows(1) == (("I90DIA01", 1, Seq("UP7", "42.5", "7")))) // NUMBER + int RK
    assert(rows(2) == (("I90DIA01", 2, Seq("UP9", "", "3.25")))) // BLANK + float RK
    assert(rows(3) == (("I90DIA01", 3, Seq("UPX", "100", "2.5")))) // LABEL + MULRK ÷100
    assert(rows(4) == (("I90DIA01", 4, Seq("calc", "9.5")))) // FORMULA string + number
  }

  test("S2 zipped legacy .xls → dynamic header → melt (same flow as xlsx)") {
    val dir = tmpDir()
    val zos = new java.util.zip.ZipOutputStream(
      new java.io.FileOutputStream(s"$dir/I90DIA_20240101.zip"))
    zos.putNextEntry(new java.util.zip.ZipEntry("I90DIA_20240101.xls"))
    zos.write(xlsBytes); zos.closeEntry(); zos.close()
    val sheets = Ingest.readZippedXlsx(spark, dir, "\\.xls$", "^I90DIA")
    val wide = Ingest.sheetToWide(
      sheets.filter(col("row_idx") <= 2), headerRowIdx = 0)
    assert(wide.columns.sameElements(
      Array("Unidad de Programación", "00-01", "01-02")))
    val long = Ingest.melt(
      wide.withColumn("00-01", expr("try_cast(`00-01` AS DOUBLE)"))
        .withColumn("01-02", expr("try_cast(`01-02` AS DOUBLE)")),
      Seq("Unidad de Programación"), Seq("00-01", "01-02"))
    val got = long.orderBy("Unidad de Programación", "hora")
      .as[(String, String, Double)].collect()
    assert(got.sameElements(Array(
      ("UP7", "00-01", 42.5), ("UP7", "01-02", 7.0), ("UP9", "01-02", 3.25))))
  }

  test("sheetToWide guards: missing/blank/duplicate headers fail with context") {
    import spark.implicits._
    // header row index beyond the sheet → clear error, not NoSuchElement
    val twoRows = Seq(("S", 0, Seq("a", "b")), ("S", 1, Seq("1", "2")))
      .toDF("sheet", "row_idx", "cells")
    val eMissing = intercept[IllegalArgumentException] {
      Ingest.sheetToWide(twoRows, headerRowIdx = 5)
    }
    assert(eMissing.getMessage.contains("no header row at row_idx=5"))
    // blank header cell → rejected, naming the position
    val blank = Seq(("S", 0, Seq("a", " ")), ("S", 1, Seq("1", "2")))
      .toDF("sheet", "row_idx", "cells")
    val eBlank = intercept[IllegalArgumentException] {
      Ingest.sheetToWide(blank, headerRowIdx = 0)
    }
    assert(eBlank.getMessage.contains("blank header cell at position 1"))
    // duplicate header name → rejected (ambiguous col() downstream)
    val dup = Seq(("S", 0, Seq("a", "a")), ("S", 1, Seq("1", "2")))
      .toDF("sheet", "row_idx", "cells")
    val eDup = intercept[IllegalArgumentException] {
      Ingest.sheetToWide(dup, headerRowIdx = 0)
    }
    assert(eDup.getMessage.contains("duplicate header name 'a'"))
  }

  test("S2 zipped xlsx → dynamic header → melt: the reference's I90 flow") {
    val dir = tmpDir()
    val zos = new java.util.zip.ZipOutputStream(
      new java.io.FileOutputStream(s"$dir/I90DIA_20240101.zip"))
    zos.putNextEntry(new java.util.zip.ZipEntry("I90DIA_20240101.xls"))
    zos.write(xlsxBytes); zos.closeEntry()
    zos.putNextEntry(new java.util.zip.ZipEntry("leeme.txt"))
    zos.write("noise".getBytes("UTF-8")); zos.closeEntry()
    zos.close()
    val sheets = Ingest.readZippedXlsx(spark, dir, "\\.xls$", "^I90DIA")
    val wide = Ingest.sheetToWide(sheets, headerRowIdx = 0)
    assert(wide.columns.sameElements(
      Array("Unidad de Programación", "00-01", "01-02")))
    // try_cast: padded blank cells must become NULL (for melt's dropna),
    // not an ANSI cast error
    val long = Ingest.melt(
      wide.withColumn("00-01", expr("try_cast(`00-01` AS DOUBLE)"))
        .withColumn("01-02", expr("try_cast(`01-02` AS DOUBLE)")),
      Seq("Unidad de Programación"), Seq("00-01", "01-02"))
    val got = long.orderBy("Unidad de Programación", "hora")
      .as[(String, String, Double)].collect()
    assert(got.sameElements(Array(
      ("UP7", "00-01", 42.5), ("UP7", "01-02", 7.0), ("UP9", "01-02", 3.25))))
  }
}
