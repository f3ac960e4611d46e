package graft.sources

import java.io.{ByteArrayInputStream, FileInputStream, FileOutputStream}
import java.util.zip.{ZipEntry, ZipInputStream, ZipOutputStream}
import scala.collection.mutable
import javax.xml.parsers.DocumentBuilderFactory
import org.w3c.dom.Element

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/**
 * Excel (.xlsx) source/sink — the engine's `read_excel` / `to_excel`
 * (reference: modin/core/io/io.py:218-410 read_excel, which the reference
 * itself executes single-node via default_to_pandas; the experimental
 * Ray variant splits on row ranges). xlsx is a zip of SpreadsheetML XML,
 * so this parses with JDK-only APIs (java.util.zip + DOM) — no external
 * dependency. Excel's own format caps a sheet at ~1M rows, so per-FILE
 * parsing is inherently bounded; the scale axis is MANY files, and a
 * directory input reads one task per file ([[FileSet]]). Cells are typed
 * per SpreadsheetML (`t="s"` shared string, `t="b"` bool, `t="inlineStr"`,
 * default numeric); columns are inferred bottom-up (long ⊂ double ⊂
 * string, bool kept only if pure) to match pandas' read_excel dtype
 * inference.
 */
object Excel {

  // ---- shared XML helpers (serializable — used task-side) ----

  private def parseXml(bytes: Array[Byte]): Element = {
    val dbf = DocumentBuilderFactory.newInstance()
    dbf.setNamespaceAware(false)
    // the file is data, not a document to resolve: no DTD/entity fetching
    dbf.setFeature("http://apache.org/xml/features/nonvalidating/load-external-dtd", false)
    dbf.setExpandEntityReferences(false)
    dbf.newDocumentBuilder().parse(new ByteArrayInputStream(bytes)).getDocumentElement
  }

  private def children(e: Element, tag: String): Seq[Element] = {
    val nl = e.getElementsByTagName(tag)
    (0 until nl.getLength).map(nl.item(_).asInstanceOf[Element])
  }

  private def zipEntries(path: String): Map[String, Array[Byte]] = {
    val zis = new ZipInputStream(new FileInputStream(path))
    val out = mutable.Map.empty[String, Array[Byte]]
    try {
      var e = zis.getNextEntry
      while (e != null) {
        if (!e.isDirectory) out(e.getName) = zis.readAllBytes()
        e = zis.getNextEntry
      }
    } finally zis.close()
    out.toMap
  }

  /** "B3" → zero-based column 1 (row part ignored — rows come in order). */
  private def colIndex(ref: String): Int = {
    var i = 0; var acc = 0
    while (i < ref.length && ref.charAt(i).isLetter) {
      acc = acc * 26 + (ref.charAt(i) - 'A' + 1); i += 1
    }
    acc - 1
  }

  /** Parse one sheet into a dense Any grid (null = blank cell). */
  private def parseGrid(entries: Map[String, Array[Byte]], sheet: Option[String]): Seq[Array[Any]] = {
    val shared: IndexedSeq[String] = entries.get("xl/sharedStrings.xml").map { b =>
      children(parseXml(b), "si").map(si =>
        children(si, "t").map(_.getTextContent).mkString).toIndexedSeq
    }.getOrElse(IndexedSeq.empty)
    val sheetPath = sheet match {
      case None => "xl/worksheets/sheet1.xml"
      case Some(name) =>
        val wb = parseXml(entries("xl/workbook.xml"))
        val rid = children(wb, "sheet")
          .find(_.getAttribute("name") == name)
          .getOrElse(throw new IllegalArgumentException(s"no sheet named '$name'"))
          .getAttribute("r:id")
        val rels = parseXml(entries("xl/_rels/workbook.xml.rels"))
        val target = children(rels, "Relationship")
          .find(_.getAttribute("Id") == rid).get.getAttribute("Target")
        if (target.startsWith("/")) target.drop(1) else s"xl/$target"
    }
    val ws = parseXml(entries.getOrElse(sheetPath,
      throw new IllegalArgumentException(s"sheet entry $sheetPath missing")))
    // SpreadsheetML omits entirely-blank rows from sheetData: track the
    // row's r index and emit all-null rows for the gaps so positions
    // match pandas read_excel (otherwise later data silently shifts up)
    val rawRows = children(ws, "row").map { r =>
      var nextCol = 0 // the cell r attribute is OPTIONAL: absent -> sequential
      val cells = children(r, "c").flatMap { c =>
        val t = c.getAttribute("t")
        val v: Any = t match {
          case "inlineStr" => children(c, "t").map(_.getTextContent).mkString
          case _ =>
            val vs = children(c, "v").headOption.map(_.getTextContent)
            vs.map { raw =>
              t match {
                case "s"        => shared(raw.toInt)
                case "b"        => raw == "1"
                // str = formula string, e = error literal (#DIV/0! — a
                // string in pandas too), d = ISO-8601 date text; none of
                // these are decimal, raw.toDouble would throw
                case "str" | "e" | "d" => raw
                case _          => raw.toDouble // SpreadsheetML numbers are decimal
              }
            }.orNull
        }
        val ref = c.getAttribute("r")
        val idx = if (ref.isEmpty) nextCol else colIndex(ref)
        nextCol = idx + 1
        if (v == null) None else Some(idx -> v)
      }
      val rIdx = Option(r.getAttribute("r")).filter(_.nonEmpty).map(_.toInt)
      (rIdx, cells)
    }
    // assign sequential positions where r is absent, then fill gaps
    var nextRow = 1
    val indexed = rawRows.map { case (rIdx, cells) =>
      val i = rIdx.getOrElse(nextRow)
      nextRow = i + 1
      (i, cells)
    }
    val width = (indexed.flatMap(_._2.map(_._1)) :+ -1).max + 1
    val lastRow = (indexed.map(_._1) :+ 0).max
    // last-one-wins toMap would silently drop data when two <row> elements
    // carry the same r (or a sequential fallback collides with a later
    // explicit r) — a malformed sheet must fail, not lose rows
    val dupRows = indexed.map(_._1).groupBy(identity)
      .collect { case (i, xs) if xs.size > 1 => i }.toSeq.sorted
    require(dupRows.isEmpty,
      s"duplicate row index ${dupRows.mkString(", ")} in sheet — malformed workbook")
    val byIdx = indexed.toMap
    (1 to lastRow).map { i =>
      val arr = new Array[Any](width)
      byIdx.getOrElse(i, Nil).foreach { case (c, v) => arr(c) = v }
      arr
    }
  }

  /** Bottom-up column typing over data rows: long ⊂ double ⊂ string;
    * boolean only when every non-null is boolean. */
  private def inferType(vals: Seq[Any]): DataType = {
    val nn = vals.filter(_ != null)
    if (nn.isEmpty) StringType
    else if (nn.forall(_.isInstanceOf[Boolean])) BooleanType
    else if (nn.forall(_.isInstanceOf[Double])) {
      if (nn.forall { case d: Double => d.isWhole && math.abs(d) < 9.007199254740992e15 })
        LongType else DoubleType
    } else StringType
  }

  private def toTyped(grid: Seq[Array[Any]], header: Boolean): (StructType, Seq[Row]) = {
    require(grid.nonEmpty, "empty sheet")
    val width = grid.head.length
    val names =
      if (header) grid.head.map(v => if (v == null) "" else v.toString).toSeq
      else (0 until width).map(i => s"_c$i")
    val data = if (header) grid.tail else grid
    val types = (0 until width).map(i => inferType(data.map(_(i))))
    val schema = StructType(names.zip(types).map { case (n, t) => StructField(n, t, nullable = true) })
    val rows = data.map { arr =>
      Row.fromSeq(arr.toIndexedSeq.zip(types).map { case (v, t) =>
        if (v == null) null else convert(v, t)
      })
    }
    (schema, rows)
  }

  /** A cell onto its column's type: a whole double reads as "3", not
    * "3.0", in a string column, whether inferred here or merged across
    * files; otherwise [[FileSet.widened]]. */
  private def convert(v: Any, dt: DataType): Any = (v, dt) match {
    case (d: Double, StringType) if d.isWhole => d.toLong.toString
    case _ => FileSet.widened(v, dt)
  }

  /** Read one .xlsx file or a directory of them ([[FileSet]]). With
    * `header = false` the names are positional `_c{i}`, so files merge
    * by position. */
  def read(spark: SparkSession, path: String, sheet: Option[String] = None,
      header: Boolean = true): DataFrame =
    FileSet.read(spark, path, Seq(".xlsx"),
      p => toTyped(parseGrid(zipEntries(p), sheet), header)._1,
      p => toTyped(parseGrid(zipEntries(p), sheet), header)._2.iterator, convert)

  // ---- writer ----

  private def xmlEscape(s: String): String =
    s.flatMap {
      case '&' => "&amp;"; case '<' => "&lt;"; case '>' => "&gt;"
      case '"' => "&quot;"
      // XML 1.0 forbids most C0 controls — a raw \u0001 would make the
      // workbook unreadable (including by this file's own reader)
      case c if c < 0x20 && c != '\t' && c != '\n' && c != '\r' => ""
      case c => c.toString
    }

  private def colName(i: Int): String = {
    var n = i + 1; val sb = new StringBuilder
    while (n > 0) { val r = (n - 1) % 26; sb.insert(0, ('A' + r).toChar); n = (n - 1) / 26 }
    sb.toString
  }

  /**
   * Write a DataFrame to a single .xlsx workbook — `to_excel`. A
   * deliberate driver-side collect: the format caps a sheet at ~1M rows
   * and a workbook is one file, so there is nothing to distribute;
   * `maxRows` guards the collect the same way transpose's maxCells does
   * (reference to_excel is likewise a single-node pandas write). Strings
   * are written inline (no sharedStrings table) — larger files, zero
   * cross-cell state.
   */
  def write(df: DataFrame, path: String, sheetName: String = "Sheet1",
      header: Boolean = true, maxRows: Int = 1048575): Unit = {
    val rows = FileSet.collectCapped(df, maxRows, "to_excel writes a single workbook")
    val schema = df.schema
    val sb = new StringBuilder
    sb.append("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
    sb.append("""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
    var rn = 1
    def cellRef(ci: Int) = s"${colName(ci)}$rn"
    if (header) {
      sb.append(s"""<row r="$rn">""")
      schema.fields.zipWithIndex.foreach { case (f, ci) =>
        sb.append(s"""<c r="${cellRef(ci)}" t="inlineStr"><is><t>${xmlEscape(f.name)}</t></is></c>""")
      }
      sb.append("</row>"); rn += 1
    }
    rows.foreach { row =>
      sb.append(s"""<row r="$rn">""")
      schema.fields.zipWithIndex.foreach { case (f, ci) =>
        if (!row.isNullAt(ci)) {
          f.dataType match {
            case LongType | IntegerType | DoubleType | FloatType | ShortType | ByteType =>
              sb.append(s"""<c r="${cellRef(ci)}"><v>${row.get(ci)}</v></c>""")
            case BooleanType =>
              sb.append(s"""<c r="${cellRef(ci)}" t="b"><v>${if (row.getBoolean(ci)) 1 else 0}</v></c>""")
            case _ =>
              sb.append(s"""<c r="${cellRef(ci)}" t="inlineStr"><is><t>${xmlEscape(String.valueOf(row.get(ci)))}</t></is></c>""")
          }
        }
      }
      sb.append("</row>"); rn += 1
    }
    sb.append("</sheetData></worksheet>")

    val workbook =
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="${xmlEscape(sheetName)}" sheetId="1" r:id="rId1"/></sheets></workbook>"""
    val workbookRels =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/></Relationships>"""
    val rootRels =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>"""
    val contentTypes =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"><Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/><Default Extension="xml" ContentType="application/xml"/><Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/><Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/></Types>"""

    val zos = new ZipOutputStream(new FileOutputStream(path))
    def put(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name))
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    }
    try {
      put("[Content_Types].xml", contentTypes)
      put("_rels/.rels", rootRels)
      put("xl/workbook.xml", workbook)
      put("xl/_rels/workbook.xml.rels", workbookRels)
      put("xl/worksheets/sheet1.xml", sb.toString)
    } finally zos.close()
  }
}
