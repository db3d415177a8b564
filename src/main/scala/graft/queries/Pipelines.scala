package graft.queries

import graft.Tables._
import graft.lake.Lake
import graft.transform.EsiosTransform
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** End-to-end pipeline queries: the full composition the driver's oracle
  * gate otherwise never sees — raw-shaped input → transform → lake upsert →
  * pruned typed read — registered as one query, with the whole chain
  * re-expressed as a DuckDB CTE pipeline as the oracle.
  * ref lifecycle: transform/_procesadores/_procesador_esios.py:320-329,
  * utilidades/data_lake_loader.py:84-140.
  */
object Pipelines {

  type Q = (SparkSession, String) => DataFrame

  /** S4 fixture content — OMIE dialect: ';' separator, two preamble lines,
    * EU decimals ("1.234,56"), non-ASCII unit names, one NULL energy cell.
    * Deterministic, so concurrent writers always produce identical bytes.
    */
  private val s4Content: String = {
    val rows = (0 until 60).map { i =>
      val unit = s"Unidad Energía España ${i % 7}"
      val tipo = if (i % 2 == 0) "Compra" else "Venta"
      val v = 1000 + i * 137
      val energia =
        if (i % 11 == 10) ""
        else f"${v / 1000}%d.${v % 1000}%03d,${i % 100}%02d"
      s"$unit;$tipo;$energia"
    }
    // both preamble lines non-empty: DuckDB's reader drops blank lines
    // BEFORE applying skip=N, so a blank second line would desynchronize
    // the two engines' skip counts
    "OMIE - mercado diario: título;;\nUnidad;Tipo;Energía\n" +
      rows.mkString("\n") + "\n"
  }

  private def writeAtomic(path: java.nio.file.Path, bytes: Array[Byte]): Unit = {
    val tmp = java.nio.file.Files.createTempFile(
      path.getParent, "graft_s4_", ".tmp")
    java.nio.file.Files.write(tmp, bytes)
    java.nio.file.Files.move(tmp, path,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  // Shared tmpfs-aware resolution (Tables.tmpDir) so oracle SQL strings
  // interpolated at registry-init time and lambdas run later always agree.
  private def tmpDir = graft.Tables.tmpDir

  /** S2 fixture rows: (up, hora-col-1, hora-col-2); "" = absent cell in
    * the sheet / empty CSV field in the twin. Decimal strings parse to
    * identical doubles in both engines (string→double is exact-nearest).
    */
  private val s2SheetRows: Seq[(String, String, String)] =
    (0 until 150).map { i =>
      val up = s"UP${i % 30}"
      val h1 = if (i % 7 == 3) ""
        else s"${i * 13 % 400}.${"%02d".format(i % 4 * 25)}"
      val h2 = if (i % 5 == 4) ""
        else s"${i * 29 % 500}.${"%02d".format(i % 2 * 50)}"
      (up, h1, h2)
    }

  /** A minimal real workbook holding the fixture sheet (inline-string id
    * cells, numeric hour cells, absent cells for NULLs) plus a noise sheet
    * the pattern filter must skip. Deterministic bytes.
    */
  private def s2XlsxBytes: Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val zos = new java.util.zip.ZipOutputStream(bos)
    def put(name: String, content: String): Unit = {
      zos.putNextEntry(new java.util.zip.ZipEntry(name))
      zos.write(content.getBytes("UTF-8")); zos.closeEntry()
    }
    put("xl/workbook.xml",
      """<?xml version="1.0"?><workbook
        | xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"
        | xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
        |<sheets><sheet name="I90DIA01" sheetId="1" r:id="rId1"/>
        |<sheet name="Resumen" sheetId="2" r:id="rId2"/></sheets></workbook>"""
        .stripMargin)
    put("xl/_rels/workbook.xml.rels",
      """<?xml version="1.0"?><Relationships
        | xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |<Relationship Id="rId1" Type="t" Target="worksheets/sheet1.xml"/>
        |<Relationship Id="rId2" Type="t" Target="worksheets/sheet2.xml"/>
        |</Relationships>""".stripMargin)
    def inline(ref: String, s: String) =
      s"""<c r="$ref" t="inlineStr"><is><t>$s</t></is></c>"""
    val header = s"""<row r="1">${inline("A1", "up")}${inline("B1", "00-01")}${
        inline("C1", "01-02")}</row>"""
    val body = s2SheetRows.zipWithIndex.map { case ((up, h1, h2), i) =>
      val r = i + 2
      val cells = new StringBuilder(inline(s"A$r", up))
      if (h1.nonEmpty) cells ++= s"""<c r="B$r"><v>$h1</v></c>"""
      if (h2.nonEmpty) cells ++= s"""<c r="C$r"><v>$h2</v></c>"""
      s"""<row r="$r">$cells</row>"""
    }.mkString
    put("xl/worksheets/sheet1.xml",
      s"""<?xml version="1.0"?><worksheet><sheetData>$header$body</sheetData></worksheet>""")
    put("xl/worksheets/sheet2.xml",
      """<?xml version="1.0"?><worksheet><sheetData><row r="1">
        |<c r="A1" t="inlineStr"><is><t>nope</t></is></c></row></sheetData></worksheet>"""
        .stripMargin)
    zos.close()
    bos.toByteArray
  }

  /** ESIOS e2e lambda + oracle, shared verbatim by `pipeline_esios_e2e`
    * and its falsification twin `pipeline_esios_e2e2` (VERDICT r6 item 1):
    * if the twin passes the driver gate while the original name fails, the
    * two-round gap is per-name driver state, not this code. The r7 oracle
    * rewrite keeps only constructs already green in the driver's DuckDB:
    * CASE (everywhere) instead of list-indexing `[..][i]`, and
    * month/day/hour calendar arithmetic (green via sc2_datetime_fns)
    * instead of `epoch_us(h) // 3600000000` division. `precio` stays a
    * pure function of the dedup key (h, ind) — NOT of event_id — so rows
    * colliding on (datetime_utc, id_mercado) carry identical values and
    * keep-last stays deterministic whichever physical row survives.
    */
  private val esiosE2eQ: Q = (s, d) => {
    val h = date_trunc("hour", col("ts"))
    val ind = element_at(typedLit(Seq(600, 612, 613)),
      (pmod(col("event_id"), lit(3)) + 1).cast(IntegerType))
    val raw = events(s, d).select(
      h.as("datetime_utc"),
      (((month(h) * 31 + dayofmonth(h)) * 24 + hour(h)) % 997 + ind)
        .cast(DoubleType).as("value"),
      ind.as("indicador_id"),
      when(pmod(col("event_id"), lit(2)) === 0, "Hora")
        .otherwise("Quince minutos").as("granularidad"),
      when(pmod(col("event_id"), lit(7)) === 0, "Francia")
        .otherwise("España").as("geo_name"))
    val out = EsiosTransform.transform(raw).withColumn("batch_id", lit(1L))
    // per-invocation unique path: a fixed shared path let concurrent
    // driver processes (bench n=5 vs correctness) race the
    // wipe/write/read cycle and produce nondeterministic results
    val path = s"${graft.Tables.tmpDir}/graft_e2e_esios_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
    Lake.upsert(s, out, path, "diario",
      Seq("datetime_utc", "id_mercado"), "batch_id")
    val res = Lake.read(s, path, Some("diario"))
      .select(col("datetime_utc"),
        col("id_mercado").cast(IntegerType).as("id_mercado"),
        col("precio").cast(DoubleType).as("precio"))
      .mat() // eager: materialize before the temp lake goes away
    fs.delete(hp, true)
    res
  }

  private val esiosE2eSql: String =
    """WITH raw AS (
         SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
                CASE CAST(event_id % 3 AS INTEGER)
                     WHEN 0 THEN 600 WHEN 1 THEN 612 ELSE 613 END AS ind,
                CASE WHEN event_id % 2 = 0 THEN 'Hora'
                     ELSE 'Quince minutos' END AS gran,
                CASE WHEN event_id % 7 = 0 THEN 'Francia'
                     ELSE 'España' END AS geo
         FROM events),
       v AS (
         SELECT h, ind, gran,
                CAST((month(h) * 31 + day(h)) * 24 + hour(h) AS BIGINT)
                  AS hcode
         FROM raw WHERE geo = 'España'),
       m AS (
         SELECT h, gran, CAST(hcode % 997 + ind AS DOUBLE) AS precio,
                CASE ind WHEN 600 THEN 1 WHEN 612 THEN 2
                         WHEN 613 THEN 3 END AS id_mercado
         FROM v),
       up AS (
         SELECT h + to_minutes(CAST(q * 15 AS BIGINT)) AS datetime_utc,
                id_mercado, precio
         FROM m, generate_series(0, 3) t(q) WHERE gran = 'Hora'
         UNION ALL
         SELECT h AS datetime_utc, id_mercado, precio
         FROM m WHERE gran <> 'Hora')
       SELECT DISTINCT datetime_utc,
              CAST(id_mercado AS INTEGER) AS id_mercado, precio
       FROM up"""

  /** MIC e2e lambda + oracle, shared verbatim by `pipeline_omie_mic_e2e`
    * and its twin `pipeline_omie_mic_e2e2` (VERDICT r6 item 1). The r7
    * oracle rewrite drops the strptime/strftime contract round-trip — the
    * last construct unique to the two driver-failing oracles — and
    * re-derives the delivery date as `DATE '2022-01-01' + to_days(...)`
    * exactly like the driver-green diario oracle; the Spark side still
    * builds and re-parses the contract code (the W8 operator under test).
    * `fecha_fichero` remains the UTC date of datetime_utc on BOTH sides
    * (transformContinuo defines it as datetime_utc.cast(DateType), which
    * differs from the Madrid delivery date for CEST hour-1 contracts).
    */
  private val micE2eQ: Q = (s, d) => {
    val o = orders(s, d).filter(col("o_orderkey") % 25 === 0)
    val delivery = date_add(lit("2022-01-01").cast(DateType),
      (col("o_orderkey") % 365).cast(IntegerType))
    val fix = o.select(
      concat(date_format(delivery, "yyyyMMdd"), lit("-"),
        lpad((col("o_orderkey") % 24 + 1).cast(StringType), 2, "0"))
        .as("Contrato"),
      concat((col("o_orderkey") % 500).cast(StringType), lit(","),
        lpad((col("o_custkey") % 4 * 25).cast(StringType), 2, "0"))
        .as("Precio"),
      concat((col("o_custkey") % 300).cast(StringType), lit(","),
        lpad((col("o_orderkey") % 4 * 25).cast(StringType), 2, "0"))
        .as("Cantidad"),
      concat(lit("UB"), (col("o_custkey") % 40).cast(StringType))
        .as("Unidad compra"),
      concat(lit("UV"), (col("o_orderkey") % 40).cast(StringType))
        .as("Unidad venta"))
    graft.transform.OmieTransform.transformContinuo(fix)
      .select(col("datetime_utc"), col("uof"),
        col("volumenes").cast(DoubleType).as("volumenes"),
        col("precio").cast(DoubleType).as("precio"),
        col("id_mercado").cast(IntegerType).as("id_mercado"),
        col("fecha_fichero"))
  }

  private val micE2eSql: String =
    """WITH fix AS (
         SELECT DATE '2022-01-01'
                  + to_days(CAST(o_orderkey % 365 AS INTEGER)) AS delivery,
                CAST(o_orderkey % 24 + 1 AS BIGINT) AS hora,
                CAST(replace(concat(CAST(o_orderkey % 500 AS VARCHAR), ',',
                       lpad(CAST(o_custkey % 4 * 25 AS VARCHAR), 2, '0')),
                       ',', '.') AS DOUBLE) AS precio,
                CAST(replace(concat(CAST(o_custkey % 300 AS VARCHAR), ',',
                       lpad(CAST(o_orderkey % 4 * 25 AS VARCHAR), 2, '0')),
                       ',', '.') AS DOUBLE) AS cantidad,
                concat('UB', CAST(o_custkey % 40 AS VARCHAR)) AS ub,
                concat('UV', CAST(o_orderkey % 40 AS VARCHAR)) AS uv
         FROM orders WHERE o_orderkey % 25 = 0),
       timed AS (
         SELECT *,
                make_timestamp(
                  epoch_us(timezone('Europe/Madrid',
                                    CAST(delivery AS TIMESTAMP)))
                  + (hora - 1) * 3600000000) AS datetime_utc
         FROM fix),
       sides AS (
         SELECT datetime_utc, uv AS uof,
                CAST(cantidad AS REAL) AS volumenes,
                CAST(precio AS REAL) AS precio
         FROM timed
         UNION ALL
         SELECT datetime_utc, ub AS uof,
                CAST(-cantidad AS REAL) AS volumenes,
                CAST(precio AS REAL) AS precio
         FROM timed)
       SELECT datetime_utc, uof,
              CAST(volumenes AS DOUBLE) AS volumenes,
              CAST(precio AS DOUBLE) AS precio,
              21 AS id_mercado,
              CAST(datetime_utc AS DATE) AS fecha_fichero
       FROM sides"""

  /** A minimal REAL BIFF8 `.xls` twin of the s2 fixture sheet: an OLE2/CFB
    * container (header, FAT, directory, padded Workbook stream) holding
    * BOF/BOUNDSHEET/LABEL/NUMBER/EOF records — the legacy-format arm of
    * the S2 codec (`graft.ingest.Biff`), same rows as `s2SheetRows`, plus
    * a noise sheet the pattern filter must skip. Deterministic bytes.
    */
  private def s2XlsBytes: Array[Byte] = {
    import java.nio.{ByteBuffer, ByteOrder}
    def le(n: Int) = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)
    def rec(id: Int, data: Array[Byte]): Array[Byte] = {
      val b = le(4 + data.length)
      b.putShort(id.toShort).putShort(data.length.toShort).put(data); b.array
    }
    def u16b(v: Int) = le(2).putShort(v.toShort).array
    def i32b(v: Int) = le(4).putInt(v).array
    def cat(xs: Array[Byte]*): Array[Byte] = xs.flatten.toArray
    def comp(s: String): Array[Byte] = s.map(_.toByte).toArray
    def label(r: Int, c: Int, s: String) = rec(0x0204,
      cat(u16b(r), u16b(c), u16b(0), u16b(s.length), Array(0.toByte), comp(s)))
    def number(r: Int, c: Int, v: Double) = rec(0x0203,
      cat(u16b(r), u16b(c), u16b(0),
        le(8).putLong(java.lang.Double.doubleToLongBits(v)).array))
    def bof(typ: Int) = rec(0x0809,
      cat(u16b(0x0600), u16b(typ), u16b(0), u16b(0), i32b(0), i32b(0)))
    val eof = rec(0x000a, Array.empty[Byte])
    val sheet1 = cat(
      (bof(0x0010) +:
        label(0, 0, "up") +: label(0, 1, "00-01") +: label(0, 2, "01-02") +:
        s2SheetRows.zipWithIndex.flatMap { case ((up, h1, h2), i) =>
          val r = i + 1
          Seq(label(r, 0, up)) ++
            (if (h1.nonEmpty) Seq(number(r, 1, h1.toDouble)) else Nil) ++
            (if (h2.nonEmpty) Seq(number(r, 2, h2.toDouble)) else Nil)
        } :+ eof): _*)
    val sheet2 = cat(bof(0x0010), label(0, 0, "nope"), eof)
    def boundSheet(off: Int, name: String) = rec(0x0085,
      cat(i32b(off), u16b(0), Array(name.length.toByte, 0.toByte), comp(name)))
    def globalsOf(o1: Int, o2: Int) = cat(bof(0x0005),
      boundSheet(o1, "I90DIA01"), boundSheet(o2, "Resumen"), eof)
    val gLen = globalsOf(0, 0).length
    val wb = cat(globalsOf(gLen, gLen + sheet1.length), sheet1, sheet2)

    // CFB: sector 0 = FAT, 1 = directory, 2.. = stream (padded past the
    // 4096-byte mini cutoff so it lives in the main FAT)
    val padded = java.util.Arrays.copyOf(wb, math.max(wb.length, 4096))
    val ssz = 512
    val nStream = (padded.length + ssz - 1) / ssz
    val total = 2 + nStream
    require(total <= ssz / 4, "fixture exceeds one FAT sector")
    val buf = le((total + 1) * ssz)
    buf.put(Array(0xd0, 0xcf, 0x11, 0xe0, 0xa1, 0xb1, 0x1a, 0xe1).map(_.toByte))
    buf.position(24)
    buf.putShort(0x3e).putShort(3).putShort(0xfffe.toShort)
      .putShort(9).putShort(6)
    buf.position(44)
    buf.putInt(1).putInt(1)
    buf.position(56)
    buf.putInt(4096).putInt(-2).putInt(0).putInt(-2).putInt(0)
    buf.putInt(0)
    (1 until 109).foreach(_ => buf.putInt(-1))
    buf.position(ssz)
    buf.putInt(-3).putInt(-2)
    (0 until nStream).foreach(i => buf.putInt(if (i == nStream - 1) -2 else 3 + i))
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

  val all: Seq[(String, Q, Option[String])] = Seq(

    // S2 — the real xlsx codec, oracled end to end: the lambda writes the
    // deterministic workbook (read through zip+StAX, sheet filter, dynamic
    // header, melt) and a CSV twin of the same sheet for DuckDB — same
    // strings, same absent cells, so any codec misread hash-fails.
    // ref: _descargador_i90.py:77-304
    ("s2_xlsx_sheet",
      (s, _) => {
        writeAtomic(java.nio.file.Paths.get(tmpDir, "graft_s2_fixture.xlsx"),
          s2XlsxBytes)
        writeAtomic(java.nio.file.Paths.get(tmpDir, "graft_s2_fixture_twin.csv"),
          ("up;00-01;01-02\n" + s2SheetRows
            .map { case (u, h1, h2) => s"$u;$h1;$h2" }.mkString("\n") + "\n")
            .getBytes("UTF-8"))
        val sheets = graft.ingest.Ingest.readXlsx(s,
          s"$tmpDir/graft_s2_fixture.xlsx", "^I90DIA")
        val wide = graft.ingest.Ingest.sheetToWide(sheets, headerRowIdx = 0)
        graft.ingest.Ingest.melt(
          wide.withColumn("00-01", expr("try_cast(`00-01` AS DOUBLE)"))
            .withColumn("01-02", expr("try_cast(`01-02` AS DOUBLE)")),
          Seq("up"), Seq("00-01", "01-02"))
      },
      Some(s"""WITH wide AS (
                 SELECT * FROM read_csv('$tmpDir/graft_s2_fixture_twin.csv',
                                        delim=';', header=true,
                                        all_varchar=true)),
               long AS (
                 SELECT up, '00-01' AS hora, CAST("00-01" AS DOUBLE) AS volumenes
                 FROM wide WHERE "00-01" IS NOT NULL
                 UNION ALL
                 SELECT up, '01-02', CAST("01-02" AS DOUBLE)
                 FROM wide WHERE "01-02" IS NOT NULL)
               SELECT up, hora, volumenes FROM long""")),


    // S2 (legacy arm) — the real BIFF8 .xls codec, oracled end to end with
    // the same CSV-twin scheme as s2_xlsx_sheet: the lambda writes a REAL
    // OLE2/BIFF8 workbook of the same fixture sheet (read through the CFB
    // container, record stream, sheet filter, dynamic header, melt) and an
    // independent CSV twin for DuckDB — any container/record misread
    // hash-fails. ref: _descargador_i90.py:197-304 (pd.read_excel accepts
    // both formats; daily zips name entries .xls)
    ("s2_xls_sheet",
      (s, _) => {
        writeAtomic(java.nio.file.Paths.get(tmpDir, "graft_s2_fixture.xls"),
          s2XlsBytes)
        writeAtomic(java.nio.file.Paths.get(tmpDir, "graft_s2xls_twin.csv"),
          ("up;00-01;01-02\n" + s2SheetRows
            .map { case (u, h1, h2) => s"$u;$h1;$h2" }.mkString("\n") + "\n")
            .getBytes("UTF-8"))
        val sheets = graft.ingest.Ingest.readXlsx(s,
          s"$tmpDir/graft_s2_fixture.xls", "^I90DIA")
        val wide = graft.ingest.Ingest.sheetToWide(sheets, headerRowIdx = 0)
        graft.ingest.Ingest.melt(
          wide.withColumn("00-01", expr("try_cast(`00-01` AS DOUBLE)"))
            .withColumn("01-02", expr("try_cast(`01-02` AS DOUBLE)")),
          Seq("up"), Seq("00-01", "01-02"))
      },
      Some(s"""WITH wide AS (
                 SELECT * FROM read_csv('$tmpDir/graft_s2xls_twin.csv',
                                        delim=';', header=true,
                                        all_varchar=true)),
               long AS (
                 SELECT up, '00-01' AS hora, CAST("00-01" AS DOUBLE) AS volumenes
                 FROM wide WHERE "00-01" IS NOT NULL
                 UNION ALL
                 SELECT up, '01-02', CAST("01-02" AS DOUBLE)
                 FROM wide WHERE "01-02" IS NOT NULL)
               SELECT up, hora, volumenes FROM long""")),

    // S4 — the OMIE CSV dialect read, oracled DIRECTLY against DuckDB's
    // read_csv on the same fixture (VERDICT r5 item 6). The lambda writes
    // the fixture twice: latin-1 bytes for the Spark read (the dialect
    // under test) and a UTF-8 twin for the oracle — same code points, so a
    // misdecoded latin-1 read still hash-fails. Atomic move: concurrent
    // driver processes rewrite identical bytes, and a reader can never see
    // a torn file. ref: _descargador_omie.py:207-330
    ("s4_eu_csv",
      (s, _) => {
        val p = java.nio.file.Paths.get(tmpDir, "graft_s4_fixture.csv")
        writeAtomic(p, s4Content.getBytes("ISO-8859-1"))
        writeAtomic(java.nio.file.Paths.get(tmpDir, "graft_s4_fixture_utf8.csv"),
          s4Content.getBytes("UTF-8"))
        val schema = StructType(Seq(
          StructField("unidad", StringType), StructField("tipo", StringType),
          StructField("energia_raw", StringType)))
        graft.ingest.Ingest.readOmieCsv(s, p.toString, schema, skipLines = 2)
          .select(col("unidad"), col("tipo"),
            graft.ingest.Ingest.parseEuropeanDecimal(col("energia_raw"))
              .as("energia"))
      },
      Some(s"""SELECT unidad, tipo,
                      CAST(replace(replace(energia_raw, '.', ''), ',', '.')
                           AS DOUBLE) AS energia
               FROM read_csv('$tmpDir/graft_s4_fixture_utf8.csv', delim=';',
                             skip=2, header=false,
                             columns={'unidad':'VARCHAR','tipo':'VARCHAR',
                                      'energia_raw':'VARCHAR'})""")),

    // S8 — the schema'd raw reader (`spark.read.schema(s).csv`), oracled
    // DIRECTLY against DuckDB's read_csv with explicit column types on the
    // same fixture (VERDICT r6 item 7; same fixture pattern as s4_eu_csv).
    // Typed surface: INT key, ISO DATE, VARCHAR, nullable DOUBLE (empty
    // cell → NULL in both engines; values are quarter-multiples so the
    // parse is representation-exact), BOOLEAN.
    // ref: utilidades/raw_file_utils.py:289-314 (pd.read_csv with dtypes)
    ("s8_schema_read",
      (s, _) => {
        val rows = (0 until 100).map { i =>
          val fecha = java.time.LocalDate.of(2022, 1, 1).plusDays(i % 60)
          val valor = if (i % 11 == 10) "" else s"${i * 7 % 300}.${i % 4 * 25}"
          val flag = if (i % 2 == 0) "true" else "false"
          s"$i,$fecha,Unidad $i,$valor,$flag"
        }
        writeAtomic(java.nio.file.Paths.get(tmpDir, "graft_s8_fixture.csv"),
          (rows.mkString("\n") + "\n").getBytes("UTF-8"))
        val schema = StructType(Seq(
          StructField("id", IntegerType), StructField("fecha", DateType),
          StructField("nombre", StringType), StructField("valor", DoubleType),
          StructField("flag", BooleanType)))
        s.read.schema(schema).csv(s"$tmpDir/graft_s8_fixture.csv")
      },
      Some(s"""SELECT id, fecha, nombre, valor, flag
               FROM read_csv('$tmpDir/graft_s8_fixture.csv', delim=',',
                             header=false,
                             columns={'id':'INTEGER','fecha':'DATE',
                                      'nombre':'VARCHAR','valor':'DOUBLE',
                                      'flag':'BOOLEAN'})""")),

    // S14 — newline-delimited JSON source with an explicit schema, oracled
    // DIRECTLY against DuckDB's read_json on the SAME file (JSON is UTF-8
    // by definition, so one fixture serves both engines — no twin
    // needed). Exercises the semantics that differ across naive readers:
    // nested struct field access, a MISSING key (→ NULL in both), a null
    // array (size/len → NULL in both), dyadic doubles for representation
    // parity. Schema'd read, never inference: at 100 TB schema inference
    // is an extra full scan and a correctness hazard (type flapping
    // between files); the explicit StructType is the production path.
    ("s14_jsonl_read",
      (s, _) => {
        val rows = (1 to 20).map { i =>
          val tags =
            if (i % 5 == 0) "null" else s"""["t${i % 3}", "t${i % 7}"]"""
          val meta =
            if (i % 4 == 0) """{"zona": "PT"}"""
            else s"""{"zona": "ES", "pot": ${i / 4.0}}"""
          val name = "up_" + "%02d".format(i)
          s"""{"id": $i, "name": "$name", "tags": $tags, "meta": $meta}"""
        }
        // STABLE path by design (unlike the UUID-pathed e2e fixtures): the
        // DuckDB oracle must read the same file after the Spark run, so the
        // name appears verbatim in oracleSql. Safe under concurrency ONLY
        // because the content is fully deterministic and writeAtomic's
        // rename makes any concurrent winner byte-identical — keep both
        // properties if editing. The file persists across runs (tmpfs, a
        // few KiB); same-content overwrite per run is the cleanup.
        writeAtomic(java.nio.file.Paths.get(tmpDir, "graft_s14_fixture.jsonl"),
          (rows.mkString("\n") + "\n").getBytes("UTF-8"))
        val schema = StructType(Seq(
          StructField("id", LongType), StructField("name", StringType),
          StructField("tags", ArrayType(StringType)),
          StructField("meta", StructType(Seq(
            StructField("zona", StringType),
            StructField("pot", DoubleType))))))
        s.read.schema(schema).json(s"$tmpDir/graft_s14_fixture.jsonl")
          .select(col("id"), col("name"),
            size(col("tags")).as("n_tags"),
            col("meta.zona").as("zona"), col("meta.pot").as("pot"))
      },
      Some(s"""SELECT id, name, CAST(len(tags) AS INTEGER) AS n_tags,
                      meta.zona AS zona, meta.pot AS pot
               FROM read_json('$tmpDir/graft_s14_fixture.jsonl',
                              format='newline_delimited',
                              columns={'id':'BIGINT','name':'VARCHAR',
                                       'tags':'VARCHAR[]',
                                       'meta':'STRUCT(zona VARCHAR, pot DOUBLE)'})""")),

    // S15 — SCHEMA EVOLUTION e2e: a lake dataset whose later batches grew
    // a column (the reference's sheets gain columns across market-rule
    // changes; at 100 TB re-writing history for every added column is not
    // an option). Batch 1 lands (id, v); batch 2 lands (id, v, extra);
    // the mergeSchema read must surface the union schema with NULLs for
    // the old files. Explicitly `mergeSchema` per read — the production
    // default stays off because schema merging reads EVERY file footer at
    // planning time; a curated lake turns it on per-dataset, which is
    // exactly what this operator models. Oracle recomputes the union from
    // the source table (the e2e pattern: files are the thing under test).
    ("s15_schema_evolution_e2e",
      (s, d) => {
        val dir = s"$tmpDir/graft_e2e_s15_" +
          java.util.UUID.randomUUID.toString.replace("-", "")
        val hp = new org.apache.hadoop.fs.Path(dir)
        val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
        try {
          orders(s, d).filter(col("o_orderkey") % 50 === 0)
            .select(col("o_orderkey").as("id"),
              ((col("o_orderkey") % 16).cast(DoubleType) / 4).as("v"))
            .write.mode("append").parquet(dir)
          orders(s, d).filter(col("o_orderkey") % 70 === 0)
            .select(col("o_orderkey").as("id"),
              ((col("o_orderkey") % 16).cast(DoubleType) / 4).as("v"),
              concat(lit("x"), (col("o_orderkey") % 7).cast(StringType))
                .as("extra"))
            .write.mode("append").parquet(dir)
          s.read.option("mergeSchema", "true").parquet(dir)
            .select(col("id"), col("v"), col("extra"))
            .mat() // eager: files are deleted in finally
        } finally fs.delete(hp, true)
      },
      Some("""SELECT o_orderkey AS id,
                     CAST(o_orderkey % 16 AS DOUBLE) / 4 AS v,
                     CAST(NULL AS VARCHAR) AS extra
              FROM orders WHERE o_orderkey % 50 = 0
              UNION ALL
              SELECT o_orderkey,
                     CAST(o_orderkey % 16 AS DOUBLE) / 4,
                     concat('x', CAST(o_orderkey % 7 AS VARCHAR))
              FROM orders WHERE o_orderkey % 70 = 0""")),

    // O11 — ETL LEDGER under the hash gate: EtlRunner drives a 2-day ×
    // 2-market range where one leg is a known-bad publication day (the
    // reference's error-date mask, configs/i90_config.py:196-215, raised
    // as a failure instead of silently masked) — the other three legs
    // run REAL per-day Spark counts. The gate pins the whole ledger:
    // healthy legs' row counts, the poisoned leg's (ok=false, 0) row,
    // and that a failing leg never poisons its siblings.
    ("o11_etl_ledger",
      (s, d) => {
        val days = Seq(java.time.LocalDate.parse("2024-01-05"),
          java.time.LocalDate.parse("2024-01-06"))
        val statuses = graft.transform.EtlRunner.run(days,
          Seq("diario", "intra")) { (day, m) =>
          if (day.toString == "2024-01-06" && m == "intra")
            sys.error(s"known-bad publication day: $day")
          val base = events(s, d)
            .filter(to_date(col("ts")) === lit(day.toString).cast(DateType))
          (if (m == "diario") base else base.filter(col("event_id") % 2 === 0))
            .count()
        }
        graft.transform.EtlRunner.ledger(s, statuses)
          .select(col("day"), col("market"), col("ok"),
            col("rows").as("n_rows")) // error text is JVM-specific: excluded
      },
      Some("""SELECT day, market, ok, n_rows FROM (
                SELECT '2024-01-05' AS day, 'diario' AS market, true AS ok,
                       (SELECT count(*) FROM events
                        WHERE CAST(ts AS DATE) = DATE '2024-01-05') AS n_rows
                UNION ALL
                SELECT '2024-01-05', 'intra', true,
                       (SELECT count(*) FROM events
                        WHERE CAST(ts AS DATE) = DATE '2024-01-05'
                          AND event_id % 2 = 0)
                UNION ALL
                SELECT '2024-01-06', 'diario', true,
                       (SELECT count(*) FROM events
                        WHERE CAST(ts AS DATE) = DATE '2024-01-06')
                UNION ALL
                SELECT '2024-01-06', 'intra', false, CAST(0 AS BIGINT)) t""")),

    // S16 — ORC ROUND-TRIP e2e: the second columnar format Spark treats
    // as first-class (own reader/writer, predicate pushdown, zstd),
    // proven by content parity through a write→read cycle. Types chosen
    // to cross the format boundary non-trivially: int64, date, double,
    // string. The oracle recomputes the derivation from the source table
    // (DuckDB reads no ORC; the files are the thing under test).
    ("s16_orc_roundtrip_e2e",
      (s, d) => {
        val dir = s"$tmpDir/graft_e2e_s16_" +
          java.util.UUID.randomUUID.toString.replace("-", "")
        val hp = new org.apache.hadoop.fs.Path(dir)
        val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
        try {
          lineitem(s, d).filter(col("l_orderkey") % 40 === 0)
            .select(col("l_orderkey"), col("l_shipdate"),
              col("l_extendedprice"), col("l_returnflag"))
            .write.format("orc").option("compression", "zstd")
            .mode("overwrite").save(dir)
          s.read.format("orc").load(dir).mat()
        } finally fs.delete(hp, true)
      },
      Some("""SELECT l_orderkey, l_shipdate, l_extendedprice, l_returnflag
              FROM lineitem WHERE l_orderkey % 40 = 0""")),

    // O10 — TRAINING-SHARD EXPORT e2e: the global shuffle a training run
    // wants, as a lake write — rows ordered by a content hash (md5 ⇒
    // deterministic, uniform, uncorrelated with ingest order),
    // range-partitioned into shards, each shard split into files capped
    // at maxRecordsPerFile. At 100 TB this is repartitionByRange(N) on
    // the hash (one exchange, sampled range bounds) + sorted sequential
    // file splitting inside each writer task — no driver involvement in
    // the shuffle. The driver gate checks content parity (nothing lost
    // or duplicated by the export); PipelineSpec audits the file-level
    // contract (per-file cap, disjoint hash ranges).
    ("o10_shard_export_e2e",
      (s, d) => {
        val dir = s"$tmpDir/graft_e2e_o10_" +
          java.util.UUID.randomUUID.toString.replace("-", "")
        val hp = new org.apache.hadoop.fs.Path(dir)
        val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
        try {
          documents(s, d).select(col("doc_id"), md5(col("text")).as("h"))
            .repartitionByRange(4, col("h"))
            .sortWithinPartitions(col("h"))
            .write.option("maxRecordsPerFile", 100)
            .mode("overwrite").parquet(dir)
          s.read.parquet(dir).mat() // eager: dir deleted below
        } finally fs.delete(hp, true)
      },
      Some("SELECT doc_id, md5(text) AS h FROM documents")),

    // ESIOS e2e — raw fixture derived deterministically from `events`
    // (geo filter fodder, mixed granularity), through transform → lake
    // upsert → pruned read. Lambda/oracle defined above (esiosE2eQ) so the
    // falsification twin below is byte-identical by construction.
    ("pipeline_esios_e2e", esiosE2eQ, Some(esiosE2eSql)),

    // Falsification twin (VERDICT r6 item 1b): same lambda object, same
    // oracle string, fresh name. Twin green + original red in
    // CORRECTNESS_r7 ⇒ per-name driver state; both green ⇒ the old
    // oracle's list-indexing / `//` epoch division was the bug.
    ("pipeline_esios_e2e2", esiosE2eQ, Some(esiosE2eSql)),

    // I90 e2e: wide-sheet fixture → melt (S3) → single-pass market legs
    // (F3) → DST datetime standardization (W2/W3 over the W1 calendar) →
    // finalize. Dates sweep a full year including both 2024 transition
    // days; the oracle re-derives the transition type INDEPENDENTLY from
    // ICU day lengths. ref: _procesador_i90.py:556-632.
    ("pipeline_i90_e2e",
      (s, d) => {
        val o = orders(s, d).filter(col("o_orderkey") % 10 === 0)
        val wide = o.select(
          concat(lit("UP"), (col("o_custkey") % 50).cast(StringType))
            .as("Unidad de Programación"),
          date_add(lit("2024-01-01").cast(DateType),
            (col("o_orderkey") % 365).cast(IntegerType)).as("fecha"),
          when(col("o_orderkey") % 2 === 0, "Subir").otherwise("Bajar")
            .as("Sentido"),
          when(col("o_orderkey") % 3 === 0, "Terciaria")
            .when(col("o_orderkey") % 3 === 1, "UPLPVPV")
            .otherwise("Nope").as("Redespacho"),
          lit("Hora").as("granularity"),
          (col("o_orderkey") % 97).cast(DoubleType).as("00-01"),
          when(col("o_custkey") % 5 === 0, lit(null).cast(DoubleType))
            .otherwise((col("o_custkey") % 89).cast(DoubleType)).as("12-13"),
          lit(0.0).as("03-04")) // always zero ⇒ pruned (F11)
        graft.transform.I90Transform.transform(s, wide,
          Seq("Unidad de Programación", "fecha", "Sentido", "Redespacho",
            "granularity"),
          Seq("00-01", "12-13", "03-04"))
          .select(col("datetime_utc"), col("up"), col("volumenes"),
            col("id_mercado").cast(IntegerType).as("id_mercado"))
      },
      Some("""WITH wide AS (
                SELECT concat('UP', CAST(o_custkey % 50 AS VARCHAR)) AS up,
                       CAST(DATE '2024-01-01'
                            + to_days(CAST(o_orderkey % 365 AS INTEGER)) AS DATE)
                         AS fecha,
                       CASE WHEN o_orderkey % 2 = 0 THEN 'Subir'
                            ELSE 'Bajar' END AS sentido,
                       CASE WHEN o_orderkey % 3 = 0 THEN 'Terciaria'
                            WHEN o_orderkey % 3 = 1 THEN 'UPLPVPV'
                            ELSE 'Nope' END AS redespacho,
                       CAST(o_orderkey % 97 AS DOUBLE) AS "00-01",
                       CASE WHEN o_custkey % 5 = 0 THEN NULL
                            ELSE CAST(o_custkey % 89 AS DOUBLE) END AS "12-13",
                       0.0 AS "03-04"
                FROM orders WHERE o_orderkey % 10 = 0),
              long AS (
                UNPIVOT wide ON "00-01", "12-13", "03-04"
                INTO NAME hora VALUE volumenes),
              pruned AS (SELECT * FROM long WHERE volumenes <> 0),
              tagged AS (
                SELECT *, CASE WHEN sentido = 'Subir' AND redespacho = 'Terciaria' THEN 3
                               WHEN sentido = 'Bajar' AND redespacho = 'Terciaria' THEN 4
                               WHEN sentido = 'Subir' AND redespacho IN ('UPLPVPV', 'UPLPVPCBN') THEN 10
                               WHEN sentido = 'Bajar' AND redespacho IN ('UPLPVPV', 'UPLPVPCBN') THEN 11
                          END AS id_mercado
                FROM pruned),
              kept AS (SELECT * FROM tagged WHERE id_mercado IS NOT NULL),
              cal AS (
                SELECT fecha,
                       CAST((epoch_us(timezone('Europe/Madrid',
                                CAST(fecha + to_days(1) AS TIMESTAMP)))
                             - epoch_us(timezone('Europe/Madrid',
                                CAST(fecha AS TIMESTAMP)))) // 3600000000
                         AS INTEGER) AS day_hours
                FROM (SELECT DISTINCT fecha FROM kept)),
              timed AS (
                SELECT k.up, k.volumenes, k.id_mercado,
                       CAST(regexp_extract(k.hora, '^(\d+)', 1) AS INTEGER) AS h,
                       CASE WHEN c.day_hours = 23 THEN 2
                            WHEN c.day_hours = 25 THEN 1 ELSE 0 END AS tt,
                       epoch_us(timezone('Europe/Madrid',
                                CAST(k.fecha AS TIMESTAMP))) AS mid_us
                FROM kept k JOIN cal c ON k.fecha = c.fecha)
              SELECT make_timestamp(mid_us
                       + CAST(CASE WHEN tt = 2 AND h >= 3 THEN h - 1
                                   WHEN tt = 1 AND h >= 3 THEN h + 1
                                   ELSE h END AS BIGINT) * 3600000000)
                       AS datetime_utc,
                     up, volumenes, CAST(id_mercado AS INTEGER) AS id_mercado
              FROM timed""")),

    // OMIE diario e2e (VERDICT r5 item 4): the F9 empty-row clean → EU
    // decimal parse → F8 matched filter + sign → W6 hour-index Madrid
    // kernel → A1 roll-up chain, THEN through the lake (upsert → pruned
    // typed read) — the composition the per-operator oracles never see.
    // Same driver-proofing rules as the MIC query: 2022 dates, dyadic
    // quarter-fraction decimals (exact in float32), per-invocation UUID
    // lake path. ref: _procesador_omie.py:821-831, data_lake_loader.py:84-140.
    ("pipeline_omie_diario_e2e",
      (s, d) => {
        val o = orders(s, d).filter(col("o_orderkey") % 15 === 0)
        val nullPair = col("o_orderkey") % 31 === 0 // F9 fodder: both-null rows
        val fix = o.select(
          when(nullPair, lit(null).cast(DateType))
            .otherwise(date_add(lit("2022-01-01").cast(DateType),
              (col("o_orderkey") % 365).cast(IntegerType))).as("Fecha"),
          when(nullPair, lit(null).cast(StringType))
            .otherwise(concat(lit("UOF"), (col("o_custkey") % 60).cast(StringType)))
            .as("Unidad"),
          concat((col("o_orderkey") % 400).cast(StringType), lit(","),
            lpad((col("o_custkey") % 4 * 25).cast(StringType), 2, "0"))
            .as("Energía Compra/Venta"),
          when(col("o_custkey") % 5 === 0, "O").otherwise("C")
            .as("Ofertada (O)/Casada (C)"),
          when(col("o_custkey") % 2 === 0, "C").otherwise("V").as("Tipo Oferta"),
          (col("o_orderkey") % 24 + 1).cast(IntegerType).as("Hora"))
        val out = graft.transform.OmieTransform
          .transform(fix, idMercado = 1, quarterHourly = false)
          .withColumn("batch_id", lit(1L))
        val path = s"$tmpDir/graft_e2e_omie_" +
          java.util.UUID.randomUUID.toString.replace("-", "")
        val hp = new org.apache.hadoop.fs.Path(path)
        val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
        Lake.upsert(s, out, path, "diario", Seq("datetime_utc", "uof"),
          "batch_id")
        val res = Lake.read(s, path, Some("diario"))
          .select(col("datetime_utc"), col("uof"),
            col("volumenes").cast(DoubleType).as("volumenes"),
            col("id_mercado").cast(IntegerType).as("id_mercado"))
          .mat() // eager: materialize before the temp lake goes away
        fs.delete(hp, true)
        res
      },
      Some("""WITH fix AS (
                SELECT CASE WHEN o_orderkey % 31 = 0 THEN NULL
                            ELSE DATE '2022-01-01'
                                 + to_days(CAST(o_orderkey % 365 AS INTEGER))
                       END AS fecha,
                       CASE WHEN o_orderkey % 31 = 0 THEN NULL
                            ELSE concat('UOF', CAST(o_custkey % 60 AS VARCHAR))
                       END AS unidad,
                       concat(CAST(o_orderkey % 400 AS VARCHAR), ',',
                              lpad(CAST(o_custkey % 4 * 25 AS VARCHAR), 2, '0'))
                         AS energia,
                       CASE WHEN o_custkey % 5 = 0 THEN 'O' ELSE 'C' END AS casada,
                       CASE WHEN o_custkey % 2 = 0 THEN 'C' ELSE 'V' END AS tipo,
                       CAST(o_orderkey % 24 + 1 AS INTEGER) AS hora
                FROM orders WHERE o_orderkey % 15 = 0),
              clean AS (
                SELECT * FROM fix
                WHERE NOT (fecha IS NULL AND unidad IS NULL)),
              signed AS (
                SELECT fecha, unidad, hora,
                       CASE WHEN tipo = 'C' THEN -vol ELSE vol END AS vol
                FROM (SELECT *, CAST(replace(energia, ',', '.') AS DOUBLE) AS vol
                      FROM clean) t
                WHERE casada = 'C'),
              timed AS (
                SELECT unidad AS uof, vol,
                       make_timestamp(
                         epoch_us(timezone('Europe/Madrid',
                                           CAST(fecha AS TIMESTAMP)))
                         + (CAST(hora AS BIGINT) - 1) * 3600000000)
                         AS datetime_utc
                FROM signed)
              SELECT datetime_utc, uof,
                     CAST(CAST(SUM(vol) AS REAL) AS DOUBLE) AS volumenes,
                     1 AS id_mercado
              FROM timed GROUP BY datetime_utc, uof""")),

    // OMIE continuo (MIC) e2e: EU-decimal trade strings → contract-code
    // delivery datetime (W8 + W6 Madrid kernel) → per-side rows (sell +,
    // buy −) at trade grain. The oracle replicates the published schema's
    // float32 narrowing with CAST(... AS REAL). Two driver-proofing rules
    // (CORRECTNESS_r05): delivery dates live in 2022 (2020s tzdata is
    // identical across java.time and ICU; TPC-H's 1990s dates were not),
    // and the EU-decimal fractions are quarter-multiples (.00/.25/.50/.75)
    // so every float32 value is an exact dyadic whose REAL↔DOUBLE
    // round-trip is representation-stable in any engine.
    // ref: _procesador_omie.py:258-273, 699-831.
    ("pipeline_omie_mic_e2e", micE2eQ, Some(micE2eSql)),

    // Falsification twin — byte-identical registration, fresh name
    // (see esiosE2e2 note above).
    ("pipeline_omie_mic_e2e2", micE2eQ, Some(micE2eSql)),

    // S5/S6 — the append-only raw-sink rule (MIC/continuo datasets:
    // dedupKeys empty ⇒ duplicates are DATA, never merged), proved end to
    // end: two OVERLAPPING deterministic batches are appended to a
    // per-invocation temp lake and read back partition-typed — the rows
    // appearing in both batches must come back twice, and year/month/
    // id_mercado must survive the directory-partition round trip. Oracled
    // as the UNION ALL of both batch selections.
    // ref: utilidades/processed_file_utils.py:65-67 (the append rule),
    // raw_file_utils.py write path. Follows the e2e driver-proofing rules
    // (UUID path, 2020s dates, dyadic doubles, eager checkpoint).
    ("s5_append_e2e",
      (s, d) => {
        val src = orders(s, d).filter(col("o_orderkey") % 199 === 0)
          .select(
            date_add(lit("2024-01-01").cast(DateType),
              (col("o_orderkey") % 120).cast(IntegerType))
              .cast(TimestampType).as("datetime_utc"),
            (col("o_orderkey") % 3 + 21).cast(IntegerType).as("id_mercado"),
            concat(lit("UOF"), (col("o_orderkey") % 50).cast(StringType))
              .as("uof"),
            ((col("o_orderkey") % 160).cast(DoubleType) / 4).as("volumenes"),
            col("o_orderkey"))
        val path = s"$tmpDir/graft_e2e_s5_" +
          java.util.UUID.randomUUID.toString.replace("-", "")
        val hp = new org.apache.hadoop.fs.Path(path)
        val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
        def batch(p: org.apache.spark.sql.Column) =
          src.filter(p).drop("o_orderkey")
        Lake.upsert(s, batch(col("o_orderkey") % 2 === 0), path, "continuo",
          dedupKeys = Seq.empty, precedenceCol = "volumenes")
        Lake.upsert(s, batch(col("o_orderkey") % 3 === 0), path, "continuo",
          dedupKeys = Seq.empty, precedenceCol = "volumenes")
        val res = Lake.read(s, path, Some("continuo"))
          .select(col("datetime_utc"),
            col("id_mercado").cast(IntegerType).as("id_mercado"),
            col("uof"), col("volumenes"),
            col("year").cast(IntegerType).as("year"),
            col("month").cast(IntegerType).as("month"))
          .mat() // eager: materialize before the temp lake goes away
        fs.delete(hp, true)
        res
      },
      Some("""WITH src AS (
                SELECT CAST(DATE '2024-01-01'
                         + to_days(CAST(o_orderkey % 120 AS INTEGER))
                         AS TIMESTAMP) AS datetime_utc,
                       CAST(o_orderkey % 3 + 21 AS INTEGER) AS id_mercado,
                       concat('UOF', CAST(o_orderkey % 50 AS VARCHAR)) AS uof,
                       CAST(o_orderkey % 160 AS DOUBLE) / 4 AS volumenes,
                       o_orderkey
                FROM orders WHERE o_orderkey % 199 = 0)
              SELECT datetime_utc, id_mercado, uof, volumenes,
                     CAST(year(datetime_utc) AS INTEGER) AS year,
                     CAST(month(datetime_utc) AS INTEGER) AS month
              FROM src WHERE o_orderkey % 2 = 0
              UNION ALL
              SELECT datetime_utc, id_mercado, uof, volumenes,
                     CAST(year(datetime_utc) AS INTEGER) AS year,
                     CAST(month(datetime_utc) AS INTEGER) AS month
              FROM src WHERE o_orderkey % 3 = 0""")),

    // S7 maintenance — COMPACTION proved end to end under the driver's
    // hash gate: three overlapping append-only batches accumulate small
    // files per partition, Lake.compact (maxFiles=0 ⇒ every partition
    // rewrites) coalesces them, and the read-back must hash-match the
    // plain UNION ALL of the batches — compaction that loses, duplicates
    // or reorders ROW CONTENT fails the gate (LakeSpec separately asserts
    // the file-count mechanics). Follows the e2e driver-proofing rules
    // (UUID path, 2020s dates, dyadic doubles, eager checkpoint).
    ("s7_compact_e2e",
      (s, d) => {
        val src = orders(s, d).filter(col("o_orderkey") % 211 === 0)
          .select(
            date_add(lit("2024-02-01").cast(DateType),
              (col("o_orderkey") % 56).cast(IntegerType))
              .cast(TimestampType).as("datetime_utc"),
            (col("o_orderkey") % 2 + 31).cast(IntegerType).as("id_mercado"),
            concat(lit("UOF"), (col("o_orderkey") % 40).cast(StringType))
              .as("uof"),
            ((col("o_orderkey") % 200).cast(DoubleType) / 4).as("volumenes"),
            col("o_orderkey"))
        val path = s"$tmpDir/graft_e2e_s7_" +
          java.util.UUID.randomUUID.toString.replace("-", "")
        val hp = new org.apache.hadoop.fs.Path(path)
        val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
        def batch(p: org.apache.spark.sql.Column) =
          src.filter(p).drop("o_orderkey")
        try {
          for (m <- Seq(2, 3, 5))
            Lake.upsert(s, batch(col("o_orderkey") % m === 0), path, "continuo",
              dedupKeys = Seq.empty, precedenceCol = "volumenes")
          Lake.compact(s, path, maxFiles = 0)
          Lake.read(s, path, Some("continuo"))
            .select(col("datetime_utc"),
              col("id_mercado").cast(IntegerType).as("id_mercado"),
              col("uof"), col("volumenes"),
              col("year").cast(IntegerType).as("year"),
              col("month").cast(IntegerType).as("month"))
            .mat() // eager: materialize before the temp lake goes away
        } finally fs.delete(hp, true)
      },
      Some("""WITH src AS (
                SELECT CAST(DATE '2024-02-01'
                         + to_days(CAST(o_orderkey % 56 AS INTEGER))
                         AS TIMESTAMP) AS datetime_utc,
                       CAST(o_orderkey % 2 + 31 AS INTEGER) AS id_mercado,
                       concat('UOF', CAST(o_orderkey % 40 AS VARCHAR)) AS uof,
                       CAST(o_orderkey % 200 AS DOUBLE) / 4 AS volumenes,
                       o_orderkey
                FROM orders WHERE o_orderkey % 211 = 0),
              m(m) AS (VALUES (2), (3), (5))
              SELECT datetime_utc, id_mercado, uof, volumenes,
                     CAST(year(datetime_utc) AS INTEGER) AS year,
                     CAST(month(datetime_utc) AS INTEGER) AS month
              FROM src, m WHERE o_orderkey % m.m = 0""")),

    // A16 — INCREMENTAL ROLLUP MAINTENANCE e2e (materialized-view
    // upkeep, the pattern that makes a 100 TB daily rollup affordable:
    // aggregate only the new batch, merge with the stored partials,
    // never re-scan history). The partial state is (key, month →
    // long CENTS, n) — exact and ASSOCIATIVE, so merge order and batch
    // boundaries cannot change the result — persisted to parquet
    // between "days". The oracle is the FULL recompute over all rows:
    // incremental-equals-full is the entire correctness claim, checked
    // by the driver's hash gate. Follows the e2e driver-proofing rules
    // (UUID paths, eager checkpoint, cleanup).
    ("a16_incremental_rollup_e2e",
      (s, d) => {
        val src = orders(s, d).select(col("o_orderkey"),
          col("o_orderpriority").as("prio"),
          date_trunc("month", col("o_orderdate")).cast(DateType).as("mes"),
          col("o_totalprice"))
        def partial(df: DataFrame) = df.groupBy("prio", "mes")
          .agg(sum(graft.Tables.unscaledCol(col("o_totalprice"), 2))
            .as("cents"), count(lit(1)).as("n"))
        val id = java.util.UUID.randomUUID.toString.replace("-", "")
        val p1 = s"$tmpDir/graft_e2e_a16a_$id"
        val p2 = s"$tmpDir/graft_e2e_a16b_$id"
        val h1 = new org.apache.hadoop.fs.Path(p1)
        val h2 = new org.apache.hadoop.fs.Path(p2)
        val fs = h1.getFileSystem(s.sparkContext.hadoopConfiguration)
        try {
          // day 1: first batch's partials land in the state store
          partial(src.filter(col("o_orderkey") % 3 =!= 0))
            .write.mode("overwrite").parquet(p1)
          // day 2: aggregate ONLY the new batch, merge with stored state
          // (union + re-aggregate of two |groups|-sized frames — history
          // is never re-scanned), write the new state version
          s.read.parquet(p1)
            .unionByName(partial(src.filter(col("o_orderkey") % 3 === 0)))
            .groupBy("prio", "mes")
            .agg(sum(col("cents")).as("cents"), sum(col("n")).as("n"))
            .write.mode("overwrite").parquet(p2)
          s.read.parquet(p2)
            .select(col("prio"), col("mes"),
              (col("cents") / 100.0).as("total"),
              col("n").cast(LongType).as("n"))
            .mat() // eager: materialize before cleanup
        } finally { fs.delete(h1, true); fs.delete(h2, true) }
      },
      Some("""SELECT o_orderpriority AS prio,
                     CAST(date_trunc('month', o_orderdate) AS DATE) AS mes,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                          AS DOUBLE) AS total,
                     count(*) AS n
              FROM orders GROUP BY 1, 2""")),

    // O1 — sort-before-write proved END TO END under the driver's hash
    // gate (was ScalaTest-only): an UNSORTED fixture goes through the
    // append sink (whose sortWithinPartitions("datetime_utc") is the O1
    // rule), and the read-back asserts the physical row order of every
    // written file — input_file_name + monotonically_increasing_id
    // reconstruct scan order per file (mid is monotonic within a read
    // partition; the files are far below maxPartitionBytes, so no file
    // ever splits across partitions), and any row whose predecessor in
    // the same file has a LATER datetime_utc counts as a violation. The
    // result row carries sort_violations (must be 0) next to the content
    // totals, so a sink that stops sorting — or a read that scrambles
    // row order — hash-fails the gate, not just a spec.
    // ref: utilidades/processed_file_utils.py (sort-before-write rule).
    ("o1_sorted_write_e2e",
      (s, d) => {
        val src = orders(s, d).filter(col("o_orderkey") % 223 === 0)
          .select(
            date_add(lit("2024-03-01").cast(DateType),
              // deliberately scrambled: consecutive keys land on
              // non-consecutive days, so the input is NOT pre-sorted
              ((col("o_orderkey") * 37) % 90).cast(IntegerType))
              .cast(TimestampType).as("datetime_utc"),
            (col("o_orderkey") % 2 + 41).cast(IntegerType).as("id_mercado"),
            concat(lit("UOF"), (col("o_orderkey") % 30).cast(StringType))
              .as("uof"),
            ((col("o_orderkey") % 120).cast(DoubleType) / 4).as("volumenes"))
        val path = s"$tmpDir/graft_e2e_o1_" +
          java.util.UUID.randomUUID.toString.replace("-", "")
        val hp = new org.apache.hadoop.fs.Path(path)
        val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
        try {
          Lake.upsert(s, src, path, "diario",
            dedupKeys = Seq.empty, precedenceCol = "volumenes")
          val r = Lake.read(s, path, Some("diario"))
            .withColumn("f", input_file_name())
            .withColumn("mid", monotonically_increasing_id())
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy("f").orderBy("mid")
          r.withColumn("prev_dt", lag(col("datetime_utc"), 1).over(w))
            .agg(
              sum(when(col("prev_dt") > col("datetime_utc"), 1L)
                .otherwise(0L)).as("sort_violations"),
              count(lit(1)).as("n"),
              dsum2(col("volumenes")).as("vol_total"),
              min(col("datetime_utc")).as("dt_min"),
              max(col("datetime_utc")).as("dt_max"))
            .mat() // eager: materialize before the lake goes away
        } finally fs.delete(hp, true)
      },
      Some("""WITH src AS (
                SELECT CAST(DATE '2024-03-01'
                         + to_days(CAST((o_orderkey * 37) % 90 AS INTEGER))
                         AS TIMESTAMP) AS datetime_utc,
                       CAST(o_orderkey % 120 AS DOUBLE) / 4 AS volumenes
                FROM orders WHERE o_orderkey % 223 = 0)
              SELECT CAST(0 AS BIGINT) AS sort_violations,
                     count(*) AS n,
                     CAST(SUM(CAST(volumenes AS DECIMAL(18,2))) AS DOUBLE)
                       AS vol_total,
                     min(datetime_utc) AS dt_min,
                     max(datetime_utc) AS dt_max
              FROM src""")),

    // O6 — Z-ORDER layout round trip proved END TO END under the driver's
    // hash gate: a two-dimensional fixture goes through Lake.zorder (linear
    // quantization → Morton interleave → range-partition + sort on the
    // z-value), and the read-back applies a box predicate on BOTH
    // z-dimensions. Content is layout-independent, so the oracle recomputes
    // the same filtered set relationally — a curve bug that misplaces or
    // drops rows (or row-group pruning that skips a matching page) hash-
    // fails the gate. The pruning WIN of the layout (fewer row groups read
    // than a linearly-sorted copy under the same predicate) is asserted in
    // ZorderSpec, where scan metrics are observable.
    ("o6_zorder_scan_e2e",
      (s, d) => {
        val src = orders(s, d).select(col("o_orderkey"),
          (col("o_orderkey") % 251).cast(IntegerType).as("x"),
          ((col("o_orderkey") * 7919) % 241).cast(IntegerType).as("y"),
          col("o_totalprice"))
        val path = s"$tmpDir/graft_e2e_o6_" +
          java.util.UUID.randomUUID.toString.replace("-", "")
        val hp = new org.apache.hadoop.fs.Path(path)
        val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
        try {
          Lake.zorder(s, src, path, Seq("x", "y"), nFiles = 8)
          s.read.parquet(path)
            .filter(col("x").between(40, 80) && col("y").between(100, 140))
            .mat() // eager: materialize before the lake goes away
        } finally fs.delete(hp, true)
      },
      Some("""SELECT o_orderkey,
                     CAST(o_orderkey % 251 AS INTEGER) AS x,
                     CAST((o_orderkey * 7919) % 241 AS INTEGER) AS y,
                     o_totalprice
              FROM orders
              WHERE o_orderkey % 251 BETWEEN 40 AND 80
                AND (o_orderkey * 7919) % 241 BETWEEN 100 AND 140""")),

    // S10 — the MySQL-shaped dimension round trip proved END TO END under
    // the driver's hash gate (was ScalaTest-only): write the dim to a REAL
    // JDBC database (embedded Derby — same call shape as MySQL, per-dialect
    // SQL generation in Dims.Sql), run the reference's literal batch
    // UPDATE-by-key from executors (PreparedStatement batches via
    // foreachPartition), read it back over JDBC, and hash-compare against
    // DuckDB computing the same update relationally. Proves the writer's
    // column-name quoting, the update's SET/WHERE parameter binding, and
    // the BIGINT/CLOB/DOUBLE type round-trip — not just that the calls run.
    // The doubled saldo stays exact: *2 only shifts the exponent, so the
    // JDBC DOUBLE round-trip is representation-stable in both engines.
    // ref: utilidades/db_utils.py:52-166.
    ("s10_jdbc_roundtrip_e2e",
      (s, d) => {
        val id = java.util.UUID.randomUUID.toString.replace("-", "")
        // Derby writes its log relative to the CWD unless told otherwise —
        // keep the repo clean
        System.setProperty("derby.stream.error.file",
          s"$tmpDir/graft_derby_$id.log")
        val url = s"jdbc:derby:memory:graft$id;create=true"
        val dim = supplier(s, d).select(col("s_suppkey").as("up_id"),
          col("s_name").as("up"), col("s_acctbal").as("saldo"))
        try {
          graft.sources.Dims.write(dim, "dim_up", Some(url), "")
          graft.sources.Dims.updateByKeyJdbc(
            dim.filter(col("up_id") % 2 === 0)
              .withColumn("saldo", col("saldo") * 2),
            "dim_up", keys = Seq("up_id"), url = url)
          graft.sources.Dims.read(s, "dim_up", Some(url), "")
            .mat() // eager: materialize before the db drops
        } finally {
          try java.sql.DriverManager
            .getConnection(s"jdbc:derby:memory:graft$id;drop=true")
          catch { case _: java.sql.SQLException => () } // success path throws
        }
      },
      Some("""SELECT s_suppkey AS up_id, s_name AS up,
                     CASE WHEN s_suppkey % 2 = 0 THEN s_acctbal * 2
                          ELSE s_acctbal END AS saldo
              FROM supplier"""))
  )
}
