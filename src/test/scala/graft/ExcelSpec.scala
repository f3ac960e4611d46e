package graft

import java.io.FileOutputStream
import java.util.zip.{ZipEntry, ZipOutputStream}

import graft.sources.Excel

/** read_excel / to_excel: round-trip through our own writer, plus a
  * hand-built workbook exercising the foreign-writer features the writer
  * itself avoids (sharedStrings table, a second sheet, sparse rows). */
class ExcelSpec extends SparkSuite {

  test("to_excel → read_excel round-trips values, types, and nulls") {
    import spark.implicits._
    val df = Seq(
      (1L, Some(1.5), Some("ann"), Some(true)),
      (2L, None, None, None),
      (3L, Some(2.5), Some("a<b&\"c\""), Some(false)))
      .toDF("id", "x", "name", "flag")
      .select($"id", $"x", $"name", $"flag")
    val f = java.io.File.createTempFile("graft_xl", ".xlsx")
    f.deleteOnExit()
    Excel.write(df, f.getAbsolutePath)
    val back = Excel.read(spark, f.getAbsolutePath)
    assert(back.schema.map(f => (f.name, f.dataType.simpleString)) ==
      Seq(("id", "bigint"), ("x", "double"), ("name", "string"), ("flag", "boolean")))
    val got = back.orderBy("id").collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(got(1).isNullAt(1) && got(1).isNullAt(2) && got(1).isNullAt(3))
    assert(got(2).getString(2) == "a<b&\"c\"") // xml escaping round-trips
    assert(got(0).getBoolean(3) && !got(2).getBoolean(3))
  }

  test("to_excel enforces the single-workbook row cap") {
    import spark.implicits._
    import graft.sources.{Html, SasXport, Spss, Stata}
    val df = (1 to 100).toDF("n")
    // every single-file writer shares the cap: over it fails, at it writes
    val writers: Seq[(String, (String, Int) => Unit)] = Seq(
      ".xlsx" -> ((p, m) => Excel.write(df, p, maxRows = m)),
      ".html" -> ((p, m) => Html.write(df, p, maxRows = m)),
      ".dta" -> ((p, m) => Stata.write(df, p, maxRows = m)),
      ".sav" -> ((p, m) => Spss.write(df, p, maxRows = m)),
      ".xpt" -> ((p, m) => SasXport.write(df, p, maxRows = m)))
    writers.foreach { case (ext, write) =>
      val f = java.io.File.createTempFile("graft_cap", ext)
      f.deleteOnExit()
      val e = intercept[IllegalArgumentException](write(f.getAbsolutePath, 50))
      assert(e.getMessage.contains("cap 50"), ext)
      write(f.getAbsolutePath, 100)
      assert(f.length() > 0, ext)
    }
  }

  /** Workbook with sharedStrings, two sheets, and a sparse row — the
    * shape openpyxl/pandas produce (our writer uses none of these). */
  private def writeForeignWorkbook(path: String): Unit = {
    val contentTypes =
      """<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"><Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/><Default Extension="xml" ContentType="application/xml"/></Types>"""
    val rootRels =
      """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>"""
    val workbook =
      """<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="first" sheetId="1" r:id="rId1"/><sheet name="extra" sheetId="2" r:id="rId2"/></sheets></workbook>"""
    val workbookRels =
      """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/><Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet2.xml"/></Relationships>"""
    val sharedStrings =
      """<?xml version="1.0"?><sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="3" uniqueCount="3"><si><t>city</t></si><si><t>pop</t></si><si><r><t>rich </t></r><r><t>text</t></r></si></sst>"""
    // sparse second data row: B3 blank (cell absent entirely)
    val sheet1 =
      """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData><row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row><row r="2"><c r="A2" t="s"><v>2</v></c><c r="B2"><v>41.5</v></c></row><row r="3"><c r="A3" t="str"><v>formula-out</v></c></row></sheetData></worksheet>"""
    val sheet2 =
      """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData><row r="1"><c r="A1" t="inlineStr"><is><t>k</t></is></c></row><row r="2"><c r="A2"><v>7</v></c></row></sheetData></worksheet>"""
    val zos = new ZipOutputStream(new FileOutputStream(path))
    def put(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name)); zos.write(content.getBytes("UTF-8")); zos.closeEntry()
    }
    try {
      put("[Content_Types].xml", contentTypes)
      put("_rels/.rels", rootRels)
      put("xl/workbook.xml", workbook)
      put("xl/_rels/workbook.xml.rels", workbookRels)
      put("xl/sharedStrings.xml", sharedStrings)
      put("xl/worksheets/sheet1.xml", sheet1)
      put("xl/worksheets/sheet2.xml", sheet2)
    } finally zos.close()
  }

  test("reads shared strings, rich text, sparse rows, and named sheets") {
    val f = java.io.File.createTempFile("graft_xl_foreign", ".xlsx")
    f.deleteOnExit()
    writeForeignWorkbook(f.getAbsolutePath)
    val df = Excel.read(spark, f.getAbsolutePath)
    assert(df.columns.toSeq == Seq("city", "pop"))
    val rows = df.orderBy("city").collect()
    // "rich text" = concatenated <r> runs; sparse B3 → null pop
    assert(rows.map(r => (r.getString(0), Option(r.get(1)))).toSeq ==
      Seq(("formula-out", None), ("rich text", Some(41.5))))
    val extra = Excel.read(spark, f.getAbsolutePath, sheet = Some("extra"))
    assert(extra.columns.toSeq == Seq("k"))
    assert(extra.collect().map(_.getLong(0)).toSeq == Seq(7L))
    intercept[IllegalArgumentException] {
      Excel.read(spark, f.getAbsolutePath, sheet = Some("nope"))
    }
  }

  test("error cells, missing cell refs, and omitted blank rows parse like pandas") {
    val contentTypes =
      """<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"><Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/><Default Extension="xml" ContentType="application/xml"/></Types>"""
    val rootRels =
      """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>"""
    val workbook =
      """<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="s" sheetId="1" r:id="rId1"/></sheets></workbook>"""
    val workbookRels =
      """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/></Relationships>"""
    // row 1: header cells WITHOUT r attributes (optional per the spec);
    // row 2: a formula-error cell (t="e" — would crash raw.toDouble);
    // row 4 after an omitted blank row 3 (must surface as an all-null row)
    val sheet1 =
      """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData><row r="1"><c t="inlineStr"><is><t>a</t></is></c><c t="inlineStr"><is><t>b</t></is></c></row><row r="2"><c r="A2"><v>1</v></c><c r="B2" t="e"><v>#DIV/0!</v></c></row><row r="4"><c r="A4"><v>4</v></c><c r="B4" t="str"><v>ok</v></c></row></sheetData></worksheet>"""
    val f = java.io.File.createTempFile("graft_xl_edge", ".xlsx")
    f.deleteOnExit()
    val zos = new ZipOutputStream(new FileOutputStream(f.getAbsolutePath))
    def put(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name)); zos.write(content.getBytes("UTF-8")); zos.closeEntry()
    }
    try {
      put("[Content_Types].xml", contentTypes)
      put("_rels/.rels", rootRels)
      put("xl/workbook.xml", workbook)
      put("xl/_rels/workbook.xml.rels", workbookRels)
      put("xl/worksheets/sheet1.xml", sheet1)
    } finally zos.close()
    val df = Excel.read(spark, f.getAbsolutePath)
    assert(df.columns.toSeq == Seq("a", "b"))
    val rows = df.collect().map(r => (Option(r.get(0)), Option(r.get(1)))).toSet
    assert(rows == Set(
      (Some(1L), Some("#DIV/0!")), // error cell keeps its literal; b types to string
      (None, None),                // the omitted blank row 3
      (Some(4L), Some("ok"))))
  }

  test("directory input parallelizes one task per workbook") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_xl_dir").toFile
    dir.deleteOnExit()
    Excel.write(Seq((1L, "a"), (2L, "b")).toDF("id", "s"),
      new java.io.File(dir, "a.xlsx").getAbsolutePath)
    Excel.write(Seq((3L, "c")).toDF("id", "s"),
      new java.io.File(dir, "b.xlsx").getAbsolutePath)
    val df = Excel.read(spark, dir.getAbsolutePath)
    assert(df.rdd.getNumPartitions == 2)
    assert(df.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("multi-file reads widen long→double across files instead of nulling cells") {
    import spark.implicits._
    // file a infers x as long (whole numbers only); file b has 1.5 —
    // pandas concat widens to float64; coercing b to a's schema would
    // null the 1.5 (silent data loss)
    val dir = java.nio.file.Files.createTempDirectory("graft_xl_widen").toFile
    dir.deleteOnExit()
    Excel.write(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "x")
        .selectExpr("id", "cast(x as long) as x"),
      new java.io.File(dir, "a.xlsx").getAbsolutePath)
    Excel.write(Seq((3L, 1.5)).toDF("id", "x"),
      new java.io.File(dir, "b.xlsx").getAbsolutePath)
    val df = Excel.read(spark, dir.getAbsolutePath)
    assert(df.schema("x").dataType == org.apache.spark.sql.types.DoubleType)
    assert(df.orderBy("id").collect().map(_.getDouble(1)).toSeq == Seq(10.0, 20.0, 1.5))
  }

  test("multi-file reads align columns by NAME across differing header orders") {
    import spark.implicits._
    // same columns, opposite header order — position-zipping would land
    // strings under `id` and numbers under `s` (ADVICE r7); pandas concat
    // aligns by name. A column unique to one file appends and reads null
    // for the other.
    val dir = java.nio.file.Files.createTempDirectory("graft_xl_names").toFile
    dir.deleteOnExit()
    Excel.write(Seq((1L, "a"), (2L, "b")).toDF("id", "s"),
      new java.io.File(dir, "a.xlsx").getAbsolutePath)
    Excel.write(Seq(("c", 3L, 9.5)).toDF("s", "id", "extra"),
      new java.io.File(dir, "b.xlsx").getAbsolutePath)
    // a number/text clash: c's `s` infers double, and the merged string
    // column renders a whole double as "3" (pandas' object column), not "3.0"
    Excel.write(Seq((4L, 3.0), (5L, 2.5)).toDF("id", "s"),
      new java.io.File(dir, "c.xlsx").getAbsolutePath)
    val df = Excel.read(spark, dir.getAbsolutePath)
    assert(df.columns.toSeq == Seq("id", "s", "extra"))
    val got = df.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.get(2)))).toSeq
    assert(got == Seq((1L, "a", None), (2L, "b", None), (3L, "c", Some(9.5)),
      (4L, "3", None), (5L, "2.5", None)))
  }

  test("a single workbook with duplicate header names fails loudly") {
    import spark.implicits._
    // name alignment cannot tell two `a` columns apart, for one file as
    // for many: the read fails instead of returning two columns named `a`
    val f = java.io.File.createTempFile("graft_xl_duphdr", ".xlsx")
    f.deleteOnExit()
    Excel.write(Seq((1L, 2L)).toDF("a", "a"), f.getAbsolutePath)
    val e = intercept[IllegalArgumentException](Excel.read(spark, f.getAbsolutePath))
    assert(e.getMessage.contains("duplicate column name"))
  }

  test("duplicate row indices fail loudly instead of last-one-wins dropping data") {
    val contentTypes =
      """<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"><Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/><Default Extension="xml" ContentType="application/xml"/></Types>"""
    val rootRels =
      """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>"""
    val workbook =
      """<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="s" sheetId="1" r:id="rId1"/></sheets></workbook>"""
    val workbookRels =
      """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/></Relationships>"""
    // two <row> elements both claiming r="2" — a malformed sheet that the
    // old toMap silently collapsed to one row
    val sheet1 =
      """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData><row r="1"><c t="inlineStr"><is><t>a</t></is></c></row><row r="2"><c r="A2"><v>1</v></c></row><row r="2"><c r="A2"><v>2</v></c></row></sheetData></worksheet>"""
    val f = java.io.File.createTempFile("graft_xl_dup", ".xlsx")
    f.deleteOnExit()
    val zos = new ZipOutputStream(new FileOutputStream(f.getAbsolutePath))
    def put(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name)); zos.write(content.getBytes("UTF-8")); zos.closeEntry()
    }
    try {
      put("[Content_Types].xml", contentTypes)
      put("_rels/.rels", rootRels)
      put("xl/workbook.xml", workbook)
      put("xl/_rels/workbook.xml.rels", workbookRels)
      put("xl/worksheets/sheet1.xml", sheet1)
    } finally zos.close()
    val e = intercept[IllegalArgumentException] { Excel.read(spark, f.getAbsolutePath) }
    assert(e.getMessage.contains("duplicate row index 2"))
  }
}
