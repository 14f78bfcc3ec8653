package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.zip.{ZipEntry, ZipOutputStream}

import graft.SparkSpec
import graft.etl.Schemas
import org.apache.spark.sql.functions._

/** S4 live XLSX reader. The hand-built workbook below exercises the OOXML
  * shapes the spec allows (shared strings incl. rich-text runs, inline
  * strings, booleans, error cells, skipped cells/rows, ragged widths); the
  * reference's real `access_request_rebuild.xlsx` is read end-to-end when
  * present (/root/reference/synth/resources.py:141-143 loads it with
  * `pd.read_excel(sheet_name=None)`).
  */
class XlsxSpec extends SparkSpec {

  private val refXlsx = "/root/reference/synth/data/access_request_rebuild.xlsx"

  /** Minimal spec-conformant workbook: two sheets, shared + inline strings,
    * a rich-text run, booleans, an error cell, a skipped cell (B3 absent),
    * a skipped row (r=4 absent), and a data row wider than the header.
    */
  private def miniXlsx(): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val z = new ZipOutputStream(bos)
    def put(name: String, body: String): Unit = {
      z.putNextEntry(new ZipEntry(name))
      z.write(body.getBytes(UTF_8))
      z.closeEntry()
    }
    put("xl/workbook.xml",
      """<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">""" +
        """<sheets><sheet name="People" sheetId="1" r:id="rId2"/><sheet name="Flags" sheetId="2" r:id="rId1"/></sheets></workbook>""")
    put("xl/_rels/workbook.xml.rels",
      """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        """<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>""" +
        """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet2.xml"/>""" +
        """<Relationship Id="rId9" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/styles" Target="styles.xml"/></Relationships>""")
    // rich-text run: "Ada" + " Lovelace" concatenates like openpyxl/pandas
    put("xl/sharedStrings.xml",
      """<?xml version="1.0"?><sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="4" uniqueCount="4">""" +
        """<si><t>id</t></si><si><t>name</t></si><si><r><t>Ada</t></r><r><t xml:space="preserve"> Lovelace</t></r></si><si><t>score</t></si></sst>""")
    put("xl/worksheets/sheet1.xml",
      """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""" +
        """<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c><c r="C1" t="s"><v>3</v></c></row>""" +
        """<row r="2"><c r="A2"><v>1</v></c><c r="B2" t="s"><v>2</v></c><c r="C2"><v>3.5</v></c></row>""" +
        """<row r="3"><c r="A3"><v>2</v></c><c r="C3"><v>4</v></c><c r="D3" t="inlineStr"><is><t>extra</t></is></c></row>""" +
        """<row r="5"><c r="A5"><v>3.0</v></c><c r="B5" t="e"><v>#DIV/0!</v></c><c r="C5"><v>9</v></c></row>""" +
        """</sheetData></worksheet>""")
    put("xl/worksheets/sheet2.xml",
      """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""" +
        """<row r="1"><c r="A1" t="inlineStr"><is><t>ok</t></is></c></row>""" +
        """<row r="2"><c r="A2" t="b"><v>1</v></c></row>""" +
        """<row r="3"><c r="A3" t="b"><v>0</v></c></row>""" +
        """</sheetData></worksheet>""")
    z.close()
    bos.toByteArray
  }

  test("mini workbook: sheet order, headers, cell kinds, gaps") {
    val sheets = Xlsx.readRawBytes(miniXlsx())
    assert(sheets.map(_.name) == Seq("People", "Flags"))

    val people = sheets.head
    // data row 3 is wider than the header → pandas-style Unnamed column
    assert(people.header == Seq("id", "name", "score", "Unnamed: 3"))
    assert(people.rows.length == 4) // rows 2,3,(gap 4),5
    assert(people.rows(0).toSeq == Seq("1", "Ada Lovelace", "3.5", null))
    assert(people.rows(1).toSeq == Seq("2", null, "4", "extra")) // B3 skipped
    assert(people.rows(2).forall(_ == null))                     // row 4 absent → all-null
    assert(people.rows(3).toSeq == Seq("3.0", null, "9", null))  // error cell → null

    val flags = sheets(1)
    assert(flags.header == Seq("ok"))
    assert(flags.rows.map(_.head).toSeq == Seq("true", "false"))
  }

  /** Workbook with a styles part (builtin date style, custom date numFmt,
    * plain number style) and a merged header block — the r17 surface.
    */
  private def styledXlsx(): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val z = new ZipOutputStream(bos)
    def put(name: String, body: String): Unit = {
      z.putNextEntry(new ZipEntry(name))
      z.write(body.getBytes(UTF_8))
      z.closeEntry()
    }
    put("xl/workbook.xml",
      """<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">""" +
        """<sheets><sheet name="Log" sheetId="1" r:id="rId1"/></sheets></workbook>""")
    put("xl/_rels/workbook.xml.rels",
      """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/></Relationships>""")
    // styles: xf 0 = General, xf 1 = builtin date (14), xf 2 = custom date
    // (164 "yyyy\"y\" mm dd"), xf 3 = custom NON-date (165 "#,##0.00")
    put("xl/styles.xml",
      """<?xml version="1.0"?><styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">""" +
        """<numFmts count="2"><numFmt numFmtId="164" formatCode="yyyy-mm-dd hh:mm"/>""" +
        """<numFmt numFmtId="165" formatCode="#,##0.00"/></numFmts>""" +
        """<cellXfs count="4"><xf numFmtId="0"/><xf numFmtId="14" applyNumberFormat="1"/>""" +
        """<xf numFmtId="164" applyNumberFormat="1"/><xf numFmtId="165" applyNumberFormat="1"/></cellXfs></styleSheet>""")
    // B1:C1 merged header span; 45000 = 2023-03-15; 45000.5 = noon
    put("xl/worksheets/sheet1.xml",
      """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""" +
        """<row r="1"><c r="A1" t="inlineStr"><is><t>id</t></is></c><c r="B1" t="inlineStr"><is><t>when</t></is></c><c r="D1" t="inlineStr"><is><t>amt</t></is></c></row>""" +
        """<row r="2"><c r="A2"><v>1</v></c><c r="B2" s="1"><v>45000</v></c><c r="C2" s="2"><v>45000.5</v></c><c r="D2" s="3"><v>1234.5</v></c></row>""" +
        """</sheetData><mergeCells count="1"><mergeCell ref="B1:C1"/></mergeCells></worksheet>""")
    z.close()
    bos.toByteArray
  }

  test("writeBytes round-trips through the reader: numbers, blanks, escapes, non-ASCII") {
    val wide = (0 until 28).map(i => s"h$i") // past column Z: AA, AB
    val bytes = Xlsx.writeBytes(Seq(
      ("Müller & <Co>", Seq("id", "name", "note"),
        Seq(Seq(1, "Université \"Ä\"", null), Seq(2L, "", "tab\there"), Seq(3.5, "x", "a\nb"))),
      ("Wide", wide, Seq(wide.indices.map(i => i: Any)))))
    val Seq(a, w) = Xlsx.readRawBytes(bytes)
    assert(a.name == "Müller & <Co>" && a.header == Seq("id", "name", "note"))
    assert(a.rows.map(_.toSeq) == Seq(
      Seq("1", "Université \"Ä\"", null), Seq("2", null, "tab\there"), Seq("3.5", "x", "a\nb")))
    assert(w.header == wide && w.rows.head.toSeq == wide.indices.map(_.toString))
    intercept[IllegalArgumentException](
      Xlsx.writeBytes(Seq(("S", Seq("a"), Seq(Seq("bell\u0007"))))))
  }

  test("date styles render ISO strings; non-date styles stay raw; merged " +
      "cells default to pandas parity and fill on request") {
    // pandas parity (default): anchor-only merge, date-styled serials ISO
    val sheet = Xlsx.readRawBytes(styledXlsx()).head
    assert(sheet.header == Seq("id", "when", "Unnamed: 2", "amt"))
    assert(sheet.rows(0).toSeq ==
      Seq("1", "2023-03-15", "2023-03-15 12:00:00", "1234.5"))
    // opt-in merge fill: the header span propagates the anchor label
    val filled = Xlsx.readRawBytes(styledXlsx(), fillMerged = true).head
    assert(filled.header == Seq("id", "when", "when", "amt"))
    // serial arithmetic: leap-bug epochs and second rounding
    assert(Xlsx.serialToIso("1") == "1900-01-01")
    assert(Xlsx.serialToIso("59") == "1900-02-28")
    assert(Xlsx.serialToIso("61") == "1900-03-01")
    assert(Xlsx.serialToIso("45000.25") == "2023-03-15 06:00:00")
    // format-code heuristic: quoted/bracket sections don't fake a date
    assert(Xlsx.isDateFormatCode("mm-dd-yy"))
    assert(Xlsx.isDateFormatCode("[$-409]h:mm AM/PM"))
    assert(!Xlsx.isDateFormatCode("#,##0.00"))
    assert(!Xlsx.isDateFormatCode("\"hours\" 0"))
    assert(!Xlsx.isDateFormatCode("[Red]0.0"))
    assert(Xlsx.parseRange("B1:C3") == (0, 1, 2, 2))
  }

  test("applySchema casts by name; float-formatted ints and junk coerce") {
    import org.apache.spark.sql.types._
    val raw = Xlsx.readRawBytes(miniXlsx()).head.toDF(spark)
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("score", DoubleType),
      StructField("name", StringType)))
    val out = Xlsx.applySchema(raw, schema).orderBy(col("id").asc_nulls_last).collect()
    assert(out.map(r => if (r.isNullAt(0)) null else r.getInt(0)).toSeq == Seq(1, 2, 3, null))
    assert(out(0).getDouble(1) == 3.5 && out(2).getInt(0) == 3) // "3.0" → 3
    assert(out(0).getString(2) == "Ada Lovelace")
  }

  test("reference workbook reads end-to-end with the declared schemas") {
    assume(new java.io.File(refXlsx).exists(), "reference workbook not present")
    val sheets = Xlsx.readSheets(spark, refXlsx)
    assert(sheets.map(_.name).toSet ==
      Set("AccessRequest", "InstallationFacility", "Category", "Institution"))

    val ar = sheets.find(_.name == "AccessRequest").get
    assert(ar.header == Schemas.xlsxAccessRequest.fieldNames.toSeq)
    assert(ar.rows.length == 22748)

    val res = new java.io.File(refXlsx).getParent
    def sheet(name: String, fixture: String, schema: org.apache.spark.sql.types.StructType) =
      graft.etl.Rebuild.resourceSheet(spark, res, name, fixture, schema)
    val df = sheet("AccessRequest", "access_request", Schemas.xlsxAccessRequest)
    assert(df.schema == Schemas.xlsxAccessRequest)
    val first = df.orderBy("AccessRequest_ID").first()
    assert(first.getInt(0) == 1 && first.getInt(1) == 141 && first.getInt(2) == 4)
    assert(df.filter(col("AccessRequest_ID").isNull).isEmpty)

    // the resource steps the Rebuild CLI runs over these sheets (S4 → tables)
    val cat = sheet("Category", "category", Schemas.xlsxCategory)
    val filled = graft.etl.Steps.fillCategory(cat)
    assert(filled.columns.toSeq == Seq("id", "name", "higherName"))
    assert(filled.count() == cat.count() && filled.count() > 0)
    val fac = sheet("InstallationFacility", "installation_facility",
      Schemas.xlsxInstallationFacility)
    assert(graft.etl.Steps.fillInstallationFacility(fac).filter(col("id").isNull).isEmpty)
  }

  test("Rebuild.resourceSheet prefers the live workbook, falls back to parquet") {
    assume(new java.io.File(refXlsx).exists(), "reference workbook not present")
    val res = Files.createTempDirectory("res")
    Files.copy(java.nio.file.Paths.get(refXlsx), res.resolve("access_request_rebuild.xlsx"))
    val live = graft.etl.Rebuild.resourceSheet(
      spark, res.toString, "Category", "category", Schemas.xlsxCategory)
    assert(live.schema == Schemas.xlsxCategory && live.count() > 0)

    val resFixture = Files.createTempDirectory("resfix")
    live.limit(3).write.parquet(resFixture.resolve("category.parquet").toString)
    val fell = graft.etl.Rebuild.resourceSheet(
      spark, resFixture.toString, "Category", "category", Schemas.xlsxCategory)
    assert(fell.count() == 3)
  }

  test("a corrupt row number is rejected, not materialized") {
    val bos = new ByteArrayOutputStream()
    val z = new ZipOutputStream(bos)
    def put(name: String, body: String): Unit = {
      z.putNextEntry(new ZipEntry(name)); z.write(body.getBytes(UTF_8)); z.closeEntry()
    }
    put("xl/workbook.xml",
      """<workbook><sheets><sheet name="S" sheetId="1" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships" r:id="rId1"/></sheets></workbook>""")
    put("xl/_rels/workbook.xml.rels",
      """<Relationships><Relationship Id="rId1" Type="x/worksheet" Target="worksheets/sheet1.xml"/></Relationships>""")
    put("xl/worksheets/sheet1.xml",
      """<worksheet><sheetData><row r="1"><c r="A1"><v>1</v></c></row>""" +
        """<row r="99999999"><c><v>2</v></c></row></sheetData></worksheet>""")
    z.close()
    val e = intercept[IllegalArgumentException](Xlsx.readRawBytes(bos.toByteArray))
    assert(e.getMessage.contains("corrupt sheet"))
  }
}
