package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Source parsers — SURVEY.md §2.1 (S3, S4) and the European-decimal
  * scalar family (§2.8 SC1).
  */
object Ingest {

  /** S3 — wide hourly sheet → long table (the reference's pd.melt,
    * _descargador_i90.py:197-304): id columns stay, each hour column
    * becomes a (hora, value) row, and value-null rows are dropped like the
    * reference's dropna.
    *
    * One generator, not `unpivot`: a sheet wider than
    * `spark.sql.codegen.maxFields` (100; the I90 sheet has 131 columns)
    * runs `unpivot` as an interpreted Expand, which builds one generated
    * projection per value column in every task. Past 100 value columns
    * those classes cycled through Spark's default 100-entry codegen cache
    * (`spark.sql.codegen.cache.maxEntries`), so every task recompiled most
    * of them; `Tables.configure` now sizes that cache to the engine's
    * working set, where 126 projections would still cost 126 compiles per
    * new sheet shape and a sixteenth of the cache.
    * `inline(array(struct(name, value), …))` is one expression per row
    * instead. The value type is the one `unpivot` resolves to (its
    * analyzer's wider type, without string promotion): the unpivot is only
    * analyzed for it, never run.
    */
  def melt(df: DataFrame, idCols: Seq[String], valueCols: Seq[String],
      varName: String = "hora", valName: String = "volumenes"): DataFrame = {
    def q(c: String) = col("`" + c.replace("`", "``") + "`")
    val valueType = df.unpivot(idCols.map(q).toArray, valueCols.map(q).toArray,
      varName, valName).schema(valName).dataType
    val pairs = valueCols.map(c =>
      struct(lit(c).as(varName), q(c).cast(valueType).as(valName)))
    df.select(idCols.map(q) :+ inline(array(pairs: _*)): _*)
      .filter(q(valName).isNotNull)
  }

  /** F11 companion — drop NA/0 values post-melt (sparsity optimization,
    * _descargador_i90.py:286-292).
    */
  def pruneZeroValues(df: DataFrame, valName: String = "volumenes"): DataFrame =
    df.filter(col(valName).isNotNull && col(valName) =!= 0)

  /** SC1 — European decimal normalize: "1.234,56" → 1234.56.
    * ref: _procesador_omie.py:112-123, _descargador_omie.py:367-383
    */
  def parseEuropeanDecimal(c: Column): Column =
    regexp_replace(regexp_replace(c, "\\.", ""), ",", ".").cast(DoubleType)

  /** S2 — zipped-CSV source arm: some providers ship CSV payloads inside
    * daily zip archives (_descargador_i90.py:77-196). The ZIP layer is
    * real — `binaryFile` + the JDK inflater, one task per archive, fully
    * distributed across files — with entry filtering as the sheet-filter
    * analog. Workbook payloads (xlsx AND legacy BIFF8 .xls) go through
    * `readZippedXlsx` below instead.
    */
  def readZippedCsv(spark: SparkSession, path: String, entryPattern: String,
      schema: StructType, skipLines: Int = 0,
      encoding: String = "ISO-8859-1", sep: String = ";"): DataFrame = {
    import spark.implicits._
    val lines: Dataset[String] = spark.read.format("binaryFile").load(path)
      .select("content").as[Array[Byte]]
      .flatMap { bytes =>
        val re = entryPattern.r
        val zis = new java.util.zip.ZipInputStream(
          new java.io.ByteArrayInputStream(bytes))
        val out = scala.collection.mutable.ArrayBuffer[String]()
        var e = zis.getNextEntry
        while (e != null) {
          if (!e.isDirectory && re.findFirstIn(e.getName).isDefined) {
            val content = new String(zis.readAllBytes(), encoding)
            out ++= content.split("\r?\n").iterator
              .drop(skipLines).filter(_.trim.nonEmpty)
          }
          e = zis.getNextEntry
        }
        out.toSeq
      }
    spark.read.schema(schema).option("sep", sep).csv(lines)
  }

  /** S2 — real xlsx sheet codec, JDK-only (an xlsx IS a zip of XML parts:
    * workbook.xml names the sheets, workbook.xml.rels maps them to
    * worksheets/sheetN.xml, sharedStrings.xml holds the string table).
    * Mirrors the reference's sheet read + dynamic header flow
    * (_descargador_i90.py:197-304) without a spreadsheet library: StAX
    * streaming parse, one task per workbook, fully distributed across
    * files. Emits (sheet, row_idx, cells array<string>); `sheetToWide`
    * turns a sheet into a header-named wide table for the melt flow.
    */
  def readXlsx(spark: SparkSession, path: String,
      sheetPattern: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile").load(path)
      .select("content").as[Array[Byte]]
      .flatMap(bytes => parseWorkbookBytes(bytes, sheetPattern))
      .toDF("sheet", "row_idx", "cells")
  }

  /** Format dispatch by magic bytes, not file name: `PK` → xlsx (zip of
    * XML), the OLE2 signature → legacy binary `.xls` (BIFF8, `Biff`).
    * The reference's pd.read_excel accepts both; daily zips name entries
    * `.xls` regardless of what's inside.
    */
  private[ingest] def parseWorkbookBytes(bytes: Array[Byte],
      sheetPattern: String): Seq[(String, Int, Seq[String])] =
    if (Biff.looksLikeCfb(bytes)) Biff.parseXlsBytes(bytes, sheetPattern)
    else parseXlsxBytes(bytes, sheetPattern)

  /** S2 — the reference's actual shape: a daily zip ARCHIVE containing the
    * workbook (_descargador_i90.py:77-196). Outer zip entry filter, then
    * the same xlsx codec on the embedded workbook bytes.
    */
  def readZippedXlsx(spark: SparkSession, path: String, entryPattern: String,
      sheetPattern: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile").load(path)
      .select("content").as[Array[Byte]]
      .flatMap { outer =>
        val re = entryPattern.r
        val zis = new java.util.zip.ZipInputStream(
          new java.io.ByteArrayInputStream(outer))
        val out = scala.collection.mutable.ArrayBuffer[(String, Int, Seq[String])]()
        var e = zis.getNextEntry
        while (e != null) {
          if (!e.isDirectory && re.findFirstIn(e.getName).isDefined)
            out ++= parseWorkbookBytes(zis.readAllBytes(), sheetPattern)
          e = zis.getNextEntry
        }
        out.toSeq
      }
      .toDF("sheet", "row_idx", "cells")
  }

  /** Dynamic-header projection: the row at `headerRowIdx` names the
    * columns (pandas `read_excel(header=n)`); later rows become data. The
    * header is a single driver-side row — the same place schema inference
    * lives for every Spark source.
    */
  def sheetToWide(sheetRows: DataFrame, headerRowIdx: Int): DataFrame = {
    val headerRows = sheetRows.filter(col("row_idx") === headerRowIdx)
      .select("cells").limit(1).collect()
    require(headerRows.nonEmpty,
      s"sheetToWide: no header row at row_idx=$headerRowIdx — the sheet is " +
        "empty or shorter than the requested header position")
    val header = headerRows.head.getSeq[String](0)
    require(header.forall(_.trim.nonEmpty),
      s"sheetToWide: blank header cell at position " +
        s"${header.indexWhere(_.trim.isEmpty)} (row_idx=$headerRowIdx) — " +
        "every column needs a name")
    require(header.distinct.size == header.size,
      s"sheetToWide: duplicate header name '" +
        header.diff(header.distinct).head +
        s"' (row_idx=$headerRowIdx) — downstream col() resolution would " +
        "be ambiguous")
    val data = sheetRows.filter(col("row_idx") > headerRowIdx)
    header.zipWithIndex.foldLeft(
      // try_element_at: rows may be shorter than the header (trailing
      // blank cells are not emitted) — NULL there, never an ANSI error
      data.select(col("row_idx") +: header.indices.map(i =>
        expr(s"try_element_at(cells, ${i + 1})").as(s"__c$i")): _*)) {
      case (df, (name, i)) => df.withColumnRenamed(s"__c$i", name)
    }.drop("row_idx")
  }

  /** One workbook → (sheet, 0-based row index, dense cell strings). Cells
    * resolve through the shared-string table; rich-text runs concatenate
    * their <t> pieces; missing cells inside a row pad to "".
    */
  private[ingest] def parseXlsxBytes(bytes: Array[Byte],
      sheetPattern: String): Seq[(String, Int, Seq[String])] = {
    val re = sheetPattern.r
    // slurp the parts we need (zip entry order is arbitrary — sheets can
    // precede sharedStrings, so parse after collecting)
    val parts = scala.collection.mutable.Map[String, Array[Byte]]()
    val zis = new java.util.zip.ZipInputStream(
      new java.io.ByteArrayInputStream(bytes))
    var e = zis.getNextEntry
    while (e != null) {
      if (!e.isDirectory) parts(e.getName) = zis.readAllBytes()
      e = zis.getNextEntry
    }
    val fac = javax.xml.stream.XMLInputFactory.newInstance()
    fac.setProperty(javax.xml.stream.XMLInputFactory.SUPPORT_DTD, false)
    fac.setProperty(javax.xml.stream.XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES,
      false)
    def reader(name: String) =
      fac.createXMLStreamReader(new java.io.ByteArrayInputStream(parts(name)))

    // shared strings: one entry per <si>, concatenating its <t> runs
    val sst: IndexedSeq[String] =
      if (!parts.contains("xl/sharedStrings.xml")) IndexedSeq.empty
      else {
        val r = reader("xl/sharedStrings.xml")
        val acc = scala.collection.mutable.ArrayBuffer[String]()
        val cur = new StringBuilder
        var inT = false
        while (r.hasNext) {
          r.next() match {
            case javax.xml.stream.XMLStreamConstants.START_ELEMENT =>
              r.getLocalName match {
                case "si" => cur.clear()
                case "t"  => inT = true
                case _    => ()
              }
            case javax.xml.stream.XMLStreamConstants.CHARACTERS =>
              if (inT) cur.append(r.getText)
            case javax.xml.stream.XMLStreamConstants.END_ELEMENT =>
              r.getLocalName match {
                case "si" => acc += cur.toString
                case "t"  => inT = false
                case _    => ()
              }
            case _ => ()
          }
        }
        acc.toIndexedSeq
      }

    // workbook: sheet name → relationship id
    val sheets: Seq[(String, String)] = {
      val r = reader("xl/workbook.xml")
      val acc = scala.collection.mutable.ArrayBuffer[(String, String)]()
      while (r.hasNext) {
        if (r.next() == javax.xml.stream.XMLStreamConstants.START_ELEMENT &&
            r.getLocalName == "sheet") {
          val name = r.getAttributeValue(null, "name")
          // r:id is namespaced; match by local name
          val rid = (0 until r.getAttributeCount)
            .find(i => r.getAttributeLocalName(i) == "id")
            .map(r.getAttributeValue).orNull
          if (name != null && rid != null) acc += ((name, rid))
        }
      }
      acc.toSeq
    }

    // rels: relationship id → worksheet part path
    val rels: Map[String, String] = {
      val r = reader("xl/_rels/workbook.xml.rels")
      val acc = scala.collection.mutable.Map[String, String]()
      while (r.hasNext) {
        if (r.next() == javax.xml.stream.XMLStreamConstants.START_ELEMENT &&
            r.getLocalName == "Relationship") {
          val id = r.getAttributeValue(null, "Id")
          val tgt = r.getAttributeValue(null, "Target")
          if (id != null && tgt != null)
            acc(id) = if (tgt.startsWith("/")) tgt.drop(1) else s"xl/$tgt"
        }
      }
      acc.toMap
    }

    // "B7" → 0-based column index 1
    def colIndex(ref: String): Int = {
      val letters = ref.takeWhile(_.isLetter)
      letters.foldLeft(0)((a, c) => a * 26 + (c - 'A' + 1)) - 1
    }

    sheets.collect { case (name, rid) if re.findFirstIn(name).isDefined =>
      val part = rels.getOrElse(rid,
        throw new IllegalStateException(s"xlsx: no part for sheet $name"))
      val r = reader(part)
      val rows = scala.collection.mutable.ArrayBuffer[(String, Int, Seq[String])]()
      val cells = scala.collection.mutable.ArrayBuffer[String]()
      var rowIdx = -1; var nextSeqRow = 0
      var cellCol = -1; var nextSeqCol = 0
      var cellType = ""; var inV = false; var inIsT = false
      val v = new StringBuilder
      def put(colI: Int, value: String): Unit = {
        while (cells.size < colI) cells += ""
        if (cells.size == colI) cells += value else cells(colI) = value
      }
      def flushCell(): Unit = {
        val raw = v.toString
        val value = cellType match {
          case "s" if raw.trim.nonEmpty => sst.lift(raw.trim.toInt).getOrElse("")
          case "s" => ""
          case _   => raw
        }
        put(cellCol, value)
        nextSeqCol = cellCol + 1
      }
      while (r.hasNext) {
        r.next() match {
          case javax.xml.stream.XMLStreamConstants.START_ELEMENT =>
            r.getLocalName match {
              case "row" =>
                val ra = r.getAttributeValue(null, "r")
                rowIdx = if (ra != null) ra.toInt - 1 else nextSeqRow
                cells.clear(); nextSeqCol = 0
              case "c" =>
                val ref = r.getAttributeValue(null, "r")
                cellCol = if (ref != null) colIndex(ref) else nextSeqCol
                cellType = Option(r.getAttributeValue(null, "t")).getOrElse("")
                v.clear()
              case "v"  => inV = true
              case "t"  => if (cellType == "inlineStr") inIsT = true
              case _    => ()
            }
          case javax.xml.stream.XMLStreamConstants.CHARACTERS =>
            if (inV || inIsT) v.append(r.getText)
          case javax.xml.stream.XMLStreamConstants.END_ELEMENT =>
            r.getLocalName match {
              case "v"   => inV = false
              case "t"   => inIsT = false
              case "c"   => flushCell()
              case "row" =>
                rows += ((name, rowIdx, cells.toSeq))
                nextSeqRow = rowIdx + 1
              case _ => ()
            }
          case _ => ()
        }
      }
      rows.toSeq
    }.flatten
  }

  /** S4 — OMIE CSV dialect scan: `;` separator, latin-1 encoding, two
    * header/preamble lines to skip, European decimals in value columns.
    * ref: _descargador_omie.py:207-330
    *
    * Spark's CSV reader has no per-file skip-rows option, and the `text`
    * source silently IGNORES an encoding option (it decodes UTF-8 only —
    * latin-1 "España" came back mojibake'd; caught by the s4_eu_csv
    * DuckDB oracle). So each file is read as bytes (`binaryFile` — the
    * source CSVs are daily files of a few hundred KB; one task per file,
    * still fully distributed across files), decoded with the real charset,
    * the preamble dropped, and the body handed to the schema'd CSV parser.
    */
  def readOmieCsv(spark: SparkSession, path: String, schema: StructType,
      skipLines: Int = 2, encoding: String = "ISO-8859-1"): DataFrame = {
    import spark.implicits._
    val body: Dataset[String] = spark.read.format("binaryFile").load(path)
      .select("content").as[Array[Byte]]
      .flatMap { bytes =>
        new String(bytes, encoding).split("\r?\n").iterator
          .drop(skipLines).filter(_.trim.nonEmpty)
      }
    spark.read.schema(schema).option("sep", ";").csv(body)
  }
}
