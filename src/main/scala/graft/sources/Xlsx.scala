package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.{ZipEntry, ZipInputStream, ZipOutputStream}

import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Live XLSX source (S4; /root/reference/synth/resources.py:134-148).
  *
  * The reference loads its resource workbook with
  * `pd.read_excel(path, sheet_name=None)` — every sheet as one DataFrame,
  * first row as the header. This is the Spark-side equivalent built only on
  * the JDK: an `.xlsx` file is a zip of OOXML parts, so the reader walks
  * `xl/workbook.xml` (sheet names, in workbook order) →
  * `xl/_rels/workbook.xml.rels` (sheet part targets) →
  * `xl/sharedStrings.xml` (interned strings) → each worksheet's
  * `<sheetData>`, with a streaming StAX parser (no DOM, no new
  * dependencies).
  *
  * All cell values surface as strings (`RawSheet`); `applySchema` casts to
  * a declared `StructType` by header name, which is how the Rebuild CLI
  * consumes the four resource sheets (`Rebuild.resourceSheet`). The read
  * is driver-side (`readSheets`), the reference's shape: ONE resource
  * workbook, thousands of rows, parsed on the driver like pandas, then
  * `createDataFrame`. It reads through the Hadoop FileSystem, so
  * `hdfs://`/`s3a://` resource dirs work unchanged.
  *
  * Style interpretation (r17): DATE-styled numeric cells render as ISO
  * strings instead of raw serials — `xl/styles.xml`'s `cellXfs` resolves
  * each cell's `s` index to a numFmtId, date formats are the ECMA-376
  * builtin date/time ids (14-22, 27-36, 45-47, 50-58) plus custom
  * `numFmt`s whose code carries y/m/d/h/s tokens outside quoted/bracket
  * sections (the pandas/openpyxl `is_date_format` heuristic). Serials
  * convert against the 1899-12-30 epoch (1899-12-31 below 61 — the
  * Lotus 1900 leap-bug convention); day-exact serials render as
  * `yyyy-MM-dd`, fractional ones as `yyyy-MM-dd HH:mm:ss`. Merged cells:
  * parsed from `<mergeCells>`; default surface is pandas parity (anchor
  * cell only, the rest null) with opt-in `fillMerged = true` propagating
  * the anchor value across its range — the header-span cleaning move.
  *
  * Not interpreted (documented limits, none used by the reference
  * workbook): non-date number formats (a currency-styled cell surfaces
  * as its raw decimal), formulas (the cached `<v>` result is read).
  */
object Xlsx {

  /** One parsed sheet: pandas `header=0` convention — first non-empty-width
    * row is the header, the rest is data padded to the widest row.
    */
  final case class RawSheet(name: String, header: Seq[String], rows: Seq[Array[String]]) {
    def toDF(spark: SparkSession): DataFrame = {
      val schema = StructType(header.map(StructField(_, StringType)))
      val jrows = new java.util.ArrayList[Row](rows.length)
      rows.foreach(r => jrows.add(Row.fromSeq(r.toSeq)))
      spark.createDataFrame(jrows, schema)
    }
  }

  /** "BC12" → 0-based column index (54). */
  private[sources] def colIndex(ref: String): Int = {
    var i = 0; var acc = 0
    while (i < ref.length && ref.charAt(i).isLetter) {
      acc = acc * 26 + (ref.charAt(i).toUpper - 'A' + 1); i += 1
    }
    acc - 1
  }

  private def factory: XMLInputFactory = {
    val f = XMLInputFactory.newFactory()
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f
  }

  private def withReader[A](bytes: Array[Byte])(f: XMLStreamReader => A): A = {
    val r = factory.createXMLStreamReader(new ByteArrayInputStream(bytes))
    try f(r) finally r.close()
  }

  private def attr(r: XMLStreamReader, local: String): Option[String] = {
    var i = 0
    while (i < r.getAttributeCount) {
      if (r.getAttributeLocalName(i) == local) return Some(r.getAttributeValue(i))
      i += 1
    }
    None
  }

  /** workbook.xml → (sheetName, relationship id), in workbook order. */
  private def sheetRefs(workbook: Array[Byte]): Seq[(String, String)] =
    withReader(workbook) { r =>
      val out = mutable.ArrayBuffer.empty[(String, String)]
      while (r.hasNext) {
        if (r.next() == XMLStreamConstants.START_ELEMENT && r.getLocalName == "sheet")
          for (n <- attr(r, "name"); id <- attr(r, "id")) out += ((n, id))
      }
      out.toSeq
    }

  /** workbook.xml.rels → rId → zip entry name of the worksheet part. */
  private def relTargets(rels: Array[Byte]): Map[String, String] =
    withReader(rels) { r =>
      val out = mutable.Map.empty[String, String]
      while (r.hasNext) {
        if (r.next() == XMLStreamConstants.START_ELEMENT && r.getLocalName == "Relationship")
          for (id <- attr(r, "Id"); t <- attr(r, "Target")
               if attr(r, "Type").exists(_.endsWith("/worksheet")))
            out(id) = if (t.startsWith("/")) t.drop(1) else s"xl/$t"
      }
      out.toMap
    }

  /** ECMA-376 §18.8.30 builtin date/time numFmtIds. */
  private val builtinDateFmts: Set[Int] =
    ((14 to 22) ++ (27 to 36) ++ (45 to 47) ++ (50 to 58)).toSet

  /** A custom format code is a DATE format when it carries y/m/d/h/s
    * tokens outside quoted literals, [bracket] sections and escapes —
    * the same heuristic openpyxl/pandas apply ("mm-dd-yy" yes,
    * "#,##0.00" no, "[Red]0.0" no, "\"hours\" 0" no).
    */
  private[sources] def isDateFormatCode(code: String): Boolean = {
    val bare = code
      .replaceAll("\"[^\"]*\"", "")
      .replaceAll("\\[[^\\]]*\\]", "")
      .replaceAll("\\\\.", "")
    bare.exists(c => "ymdhsYMDHS".indexOf(c.toInt) >= 0)
  }

  /** styles.xml → the set of cellXfs style INDEXES (what a cell's `s`
    * attribute references) whose number format is a date/time format.
    */
  private[sources] def dateStyleIndexes(styles: Array[Byte]): Set[Int] =
    withReader(styles) { r =>
      val customDate = mutable.Set.empty[Int]
      val xfFmts = mutable.ArrayBuffer.empty[Int]
      var inCellXfs = false
      while (r.hasNext) r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "numFmt" =>
              for (id <- attr(r, "numFmtId"); code <- attr(r, "formatCode"))
                if (isDateFormatCode(code)) customDate += id.toInt
            case "cellXfs" => inCellXfs = true
            case "xf" if inCellXfs =>
              xfFmts += attr(r, "numFmtId").map(_.toInt).getOrElse(0)
            case _ => ()
          }
        case XMLStreamConstants.END_ELEMENT if r.getLocalName == "cellXfs" =>
          inCellXfs = false
        case _ => ()
      }
      xfFmts.zipWithIndex.collect {
        case (fmt, i) if builtinDateFmts(fmt) || customDate(fmt) => i
      }.toSet
    }

  /** Excel serial → ISO string. Epoch 1899-12-30 (1899-12-31 below 61:
    * the Lotus leap bug makes serials 1-59 one day "ahead" of the modern
    * epoch; 60, the phantom 1900-02-29, lands on Mar 1 — the documented
    * convention). Time component rounds to whole seconds; a midnight
    * result renders date-only, matching pandas' Timestamp repr for
    * date-styled cells.
    */
  private[sources] def serialToIso(text: String): String = {
    val d = text.toDouble
    val days = math.floor(d).toLong
    val secs = math.round((d - days) * 86400.0)
    val epoch = if (days < 61) java.time.LocalDate.of(1899, 12, 31)
                else java.time.LocalDate.of(1899, 12, 30)
    val dt = epoch.plusDays(days).atStartOfDay.plusSeconds(secs)
    if (dt.toLocalTime == java.time.LocalTime.MIDNIGHT) dt.toLocalDate.toString
    else dt.format(java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss"))
  }

  /** "A1:B3" → (row1, col1, row2, col2), 0-based inclusive. */
  private[sources] def parseRange(ref: String): (Int, Int, Int, Int) = {
    val Array(a, b) = ref.split(":", 2)
    def cell(s: String): (Int, Int) =
      (s.dropWhile(_.isLetter).toInt - 1, colIndex(s))
    val ((r1, c1), (r2, c2)) = (cell(a), cell(b))
    (r1, c1, r2, c2)
  }

  /** sharedStrings.xml → interned strings; rich-text runs concatenated. */
  private def sharedStrings(sst: Array[Byte]): IndexedSeq[String] =
    withReader(sst) { r =>
      val out = mutable.ArrayBuffer.empty[String]
      val sb = new StringBuilder
      var inT = false
      while (r.hasNext) r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "si" => sb.clear()
            case "t"  => inT = true
            case _    => ()
          }
        case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA if inT =>
          sb.append(r.getText)
        case XMLStreamConstants.END_ELEMENT =>
          r.getLocalName match {
            case "t"  => inT = false
            case "si" => out += sb.toString
            case _    => ()
          }
        case _ => ()
      }
      out.toIndexedSeq
    }

  /** One worksheet's `<sheetData>` → dense rows of nullable strings, plus
    * the sheet's merged ranges (0-based inclusive). Gap rows (r jumps)
    * materialize as all-null rows, matching pandas. Numeric cells whose
    * style index is in `dateStyles` render as ISO date strings.
    */
  private def sheetRows(ws: Array[Byte], sst: IndexedSeq[String],
      dateStyles: Set[Int]): (Seq[Array[String]], Seq[(Int, Int, Int, Int)]) =
    withReader(ws) { r =>
      val rows = mutable.ArrayBuffer.empty[mutable.ArrayBuffer[String]]
      val merges = mutable.ArrayBuffer.empty[(Int, Int, Int, Int)]
      var row: mutable.ArrayBuffer[String] = null
      var lastRowNum = 0
      var col = -1
      var cellType = ""
      var cellStyle = -1
      val text = new StringBuilder
      var capture = false
      var maxW = 0
      while (r.hasNext) r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "row" =>
              val num = attr(r, "r").map(_.toInt).getOrElse(lastRowNum + 1)
              // the grid's own limit (2^20 rows); a claimed row number past
              // it is a corrupt part, and since interior gaps materialize as
              // all-null rows, rejecting it also bounds memory per sheet
              if (num > 1048576 || num <= lastRowNum)
                throw new IllegalArgumentException(
                  s"corrupt sheet: row number $num after row $lastRowNum")
              while (lastRowNum + 1 < num) { // pandas keeps interior empty rows as NaN
                rows += mutable.ArrayBuffer.empty[String]; lastRowNum += 1
              }
              row = mutable.ArrayBuffer.empty[String]; lastRowNum = num; col = -1
            case "c" =>
              col = attr(r, "r").map(colIndex).getOrElse(col + 1)
              cellType = attr(r, "t").getOrElse("n")
              cellStyle = attr(r, "s").flatMap(_.toIntOption).getOrElse(-1)
              text.clear()
            case "v" | "t" => capture = true
            case "mergeCell" =>
              attr(r, "ref").filter(_.contains(":")).foreach(ref =>
                merges += parseRange(ref))
            case _         => ()
          }
        case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA if capture =>
          text.append(r.getText)
        case XMLStreamConstants.END_ELEMENT =>
          r.getLocalName match {
            case "v" | "t" => capture = false
            case "c" =>
              val v = cellType match {
                case "s"         => sst(text.toString.trim.toInt)
                case "b"         => if (text.toString.trim == "1") "true" else "false"
                case "e"         => null
                case _           =>
                  if (text.isEmpty) null
                  else if (dateStyles(cellStyle) &&
                      text.toString.trim.toDoubleOption.isDefined)
                    serialToIso(text.toString.trim)
                  else text.toString
              }
              if (v != null) {
                while (row.length < col) row += null
                if (row.length == col) row += v else row(col) = v
              }
            case "row" =>
              rows += row
              if (row.length > maxW) maxW = row.length
              row = null
            case _ => ()
          }
        case _ => ()
      }
      val dense = rows.map { rw => // pad to the widest row
        val a = new Array[String](maxW)
        var i = 0
        while (i < rw.length) { a(i) = rw(i); i += 1 }
        a
      }.toSeq
      (dense, merges.toSeq)
    }

  /** Parse a whole workbook from its zip entries. The accessor returns an
    * entry's bytes by name (both zip backends below route through this).
    */
  private def parse(get: String => Option[Array[Byte]],
      fillMerged: Boolean = false): Seq[RawSheet] = {
    val wb = get("xl/workbook.xml")
      .getOrElse(throw new IllegalArgumentException("not an xlsx: no xl/workbook.xml"))
    val rels = get("xl/_rels/workbook.xml.rels")
      .getOrElse(throw new IllegalArgumentException("not an xlsx: no workbook rels"))
    val sst = get("xl/sharedStrings.xml").map(sharedStrings).getOrElse(IndexedSeq.empty)
    val dateStyles = get("xl/styles.xml").map(dateStyleIndexes).getOrElse(Set.empty)
    val targets = relTargets(rels)
    sheetRefs(wb).flatMap { case (name, rid) =>
      targets.get(rid).map { entry =>
        val ws = get(entry)
          .getOrElse(throw new IllegalArgumentException(s"missing worksheet part $entry"))
        val (all, merges) = sheetRows(ws, sst, dateStyles)
        if (fillMerged) merges.foreach { case (r1, c1, r2, c2) =>
          // propagate the anchor (top-left) value over its merged range —
          // cells outside the materialized grid stay absent (a merge can
          // legally extend past the last populated row/column)
          if (r1 < all.length && c1 < all(r1).length) {
            val v = all(r1)(c1)
            if (v != null)
              for (ri <- r1 to math.min(r2, all.length - 1);
                   ci <- c1 to math.min(c2, all(ri).length - 1)
                   if all(ri)(ci) == null)
                all(ri)(ci) = v
          }
        }
        val header = all.headOption.map(_.toSeq).getOrElse(Seq.empty)
          .zipWithIndex.map { case (h, i) => if (h == null) s"Unnamed: $i" else h }
        RawSheet(name, header, all.drop(1))
      }
    }
  }

  /** Parse from in-memory bytes: one sequential pass buffers only the
    * OOXML parts the parser consumes.
    */
  def readRawBytes(bytes: Array[Byte], fillMerged: Boolean = false): Seq[RawSheet] = {
    val wanted = mutable.Map.empty[String, Array[Byte]]
    val zin = new ZipInputStream(new ByteArrayInputStream(bytes))
    try {
      var e = zin.getNextEntry
      while (e != null) {
        val n = e.getName
        if (n == "xl/workbook.xml" || n == "xl/_rels/workbook.xml.rels" ||
            n == "xl/sharedStrings.xml" || n == "xl/styles.xml" ||
            n.startsWith("xl/worksheets/"))
          wanted(n) = zin.readAllBytes()
        e = zin.getNextEntry
      }
    } finally zin.close()
    parse(wanted.get, fillMerged)
  }

  /** Read a workbook through the input path's Hadoop FileSystem (local,
    * hdfs, s3a — whatever the session resolves) and parse every sheet.
    * Resource workbooks are megabytes; a driver-side read is the same
    * shape as the reference's `pd.read_excel`.
    */
  def readSheets(spark: SparkSession, path: String,
      fillMerged: Boolean = false): Seq[RawSheet] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val in = fs.open(p)
    val bytes = try in.readAllBytes() finally in.close()
    readRawBytes(bytes, fillMerged)
  }

  /** Cast raw string columns to a declared schema by header name. Integral
    * targets route non-integer-looking text through a double cast so a
    * float-formatted cell ("3.0") still lands; unparsable text becomes
    * NULL (ANSI off for these casts, like pandas' coercion).
    */
  def applySchema(raw: DataFrame, schema: StructType): DataFrame = {
    val cols = schema.fields.map { f =>
      require(raw.columns.contains(f.name), s"sheet is missing column '${f.name}'")
      val c = raw(f.name)
      val cast = f.dataType match {
        case IntegerType | LongType | ShortType | ByteType =>
          when(c.rlike("^-?\\d+$"), c.try_cast(f.dataType))
            .otherwise(c.try_cast(DoubleType).try_cast(f.dataType))
        case _ => c.try_cast(f.dataType)
      }
      cast.as(f.name)
    }
    raw.select(cols.toIndexedSeq: _*)
  }

  /** Minimal OOXML writer, the inverse of [[readRawBytes]] for synthesized
    * fixtures (like `Warc.synthesizeFiles`): one worksheet per
    * (name, header, rows), header in row 1. A `Number` becomes a numeric
    * `<v>` cell, any other value an inline string, and NULL or "" an absent
    * cell — which the reader, like pandas, gives back as NULL. No styles,
    * no shared strings.
    */
  def writeBytes(sheets: Seq[(String, Seq[String], Seq[Seq[Any]])]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val z = new ZipOutputStream(bos)
    def put(name: String, body: String): Unit = {
      z.putNextEntry(new ZipEntry(name))
      z.write(("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" + body).getBytes(UTF_8))
      z.closeEntry()
    }
    val ml = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    val od = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    val pr = "http://schemas.openxmlformats.org/package/2006/relationships"
    val ct = "application/vnd.openxmlformats-officedocument.spreadsheetml"
    val ids = sheets.indices.map(_ + 1)
    put("[Content_Types].xml",
      """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
        """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
        """<Default Extension="xml" ContentType="application/xml"/>""" +
        s"""<Override PartName="/xl/workbook.xml" ContentType="$ct.sheet.main+xml"/>""" +
        ids.map(i => s"""<Override PartName="/xl/worksheets/sheet$i.xml" ContentType="$ct.worksheet+xml"/>""").mkString +
        "</Types>")
    put("_rels/.rels", s"""<Relationships xmlns="$pr"><Relationship Id="rId1" """ +
      s"""Type="$od/officeDocument" Target="xl/workbook.xml"/></Relationships>""")
    put("xl/workbook.xml", s"""<workbook xmlns="$ml" xmlns:r="$od"><sheets>""" +
      sheets.zip(ids).map { case ((name, _, _), i) =>
        s"""<sheet name="${xmlText(name)}" sheetId="$i" r:id="rId$i"/>"""
      }.mkString + "</sheets></workbook>")
    put("xl/_rels/workbook.xml.rels", s"""<Relationships xmlns="$pr">""" +
      ids.map(i => s"""<Relationship Id="rId$i" Type="$od/worksheet" Target="worksheets/sheet$i.xml"/>""").mkString +
      "</Relationships>")
    sheets.zip(ids).foreach { case ((_, header, rows), i) =>
      val sb = new StringBuilder(s"""<worksheet xmlns="$ml"><sheetData>""")
      (header +: rows).iterator.zipWithIndex.foreach { case (cells, r) =>
        sb ++= s"""<row r="${r + 1}">"""
        cells.iterator.zipWithIndex.foreach {
          case (null | "", _) => ()
          case (v: Number, c) => sb ++= s"""<c r="${colRef(c)}${r + 1}"><v>$v</v></c>"""
          case (v, c) => sb ++= s"""<c r="${colRef(c)}${r + 1}" t="inlineStr"><is>""" +
            s"""<t xml:space="preserve">${xmlText(v.toString)}</t></is></c>"""
        }
        sb ++= "</row>"
      }
      put(s"xl/worksheets/sheet$i.xml", sb.append("</sheetData></worksheet>").toString)
    }
    z.close()
    bos.toByteArray
  }

  /** 0-based column index → "A", "Z", "AA", … (inverse of [[colIndex]]). */
  private def colRef(i: Int): String =
    (if (i >= 26) colRef(i / 26 - 1) else "") + ('A' + i % 26).toChar

  /** XML-escape cell text; a control character XML 1.0 cannot carry (and
    * CR, which parsers normalize away) is rejected, not silently altered.
    */
  private def xmlText(s: String): String = s.flatMap {
    case '&' => "&amp;"
    case '<' => "&lt;"
    case '>' => "&gt;"
    case '"' => "&quot;"
    case c if c < ' ' && c != '\t' && c != '\n' =>
      throw new IllegalArgumentException(f"cell text has control character \\u${c.toInt}%04x")
    case c => c.toString
  }
}
