package graft.sources

import java.io.{File, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/**
 * HTML table source/sink — the engine's `read_html` / `to_html`
 * (reference: modin/core/io/io.py:218-410, where read_html is executed
 * single-node via default_to_pandas). pandas `read_html` extracts every
 * `<table>` from a document and returns a list; the engine's analog
 * picks one table per document by `tableIndex` (default 0 — the
 * ubiquitous `read_html(...)[0]` idiom) and parallelizes the MANY-files
 * axis like every file source ([[FileSet]]): one task per document,
 * per-file schemas merged by column name.
 *
 * The parser is a lenient JDK-regex scanner over tag soup (no external
 * dependency): `<table>…</table>` blocks, `<tr>` rows, `<th>`/`<td>`
 * cells; markup inside a cell is stripped, the five XML entities and
 * `&nbsp;` unescape, a blank cell reads null. A first row consisting of
 * `<th>` cells is the header (pandas' default when a `<thead>`/`<th>`
 * row is present); otherwise columns are positional `_c{i}`. Dtype
 * inference mirrors read_excel's bottom-up rule on the cell text
 * (long ⊂ double ⊂ string). Not supported (documented leniency, same
 * spirit as the reference's bs4 "flavor" differences): colspan/rowspan
 * expansion and nested tables — a nested `<table>` ends the outer
 * table's cell scan at its first `</table>`.
 */
object Html {

  // ---- lexing helpers (serializable — used task-side) ----

  private val TableRe = "(?is)<table[^>]*>(.*?)</table>".r
  private val RowRe = "(?is)<tr[^>]*>(.*?)</tr>".r
  private val CellRe = "(?is)<(t[hd])[^>]*>(.*?)</t[hd]>".r
  private val TagRe = "(?s)<[^>]*>".r

  private def unescape(s: String): String = s
    .replace("&lt;", "<").replace("&gt;", ">").replace("&quot;", "\"")
    .replace("&#39;", "'").replace("&apos;", "'")
    .replace("&nbsp;", " ").replace("&amp;", "&")

  /** One table → rows of (isHeaderCell, text); text "" → null later. */
  private def parseTable(tableHtml: String): Seq[Array[(Boolean, String)]] =
    RowRe.findAllMatchIn(tableHtml).map { rm =>
      CellRe.findAllMatchIn(rm.group(1)).map { cm =>
        (cm.group(1).equalsIgnoreCase("th"),
          unescape(TagRe.replaceAllIn(cm.group(2), "")).trim)
      }.toArray
    }.toSeq.filter(_.nonEmpty)

  private def tablesIn(html: String): Seq[Seq[Array[(Boolean, String)]]] =
    TableRe.findAllMatchIn(html).map(m => parseTable(m.group(1))).toSeq

  /** pandas-style bottom-up dtype inference on cell text. */
  private def inferType(vals: Seq[String]): DataType = {
    val nn = vals.filter(_ != null)
    def longish(s: String) = s.nonEmpty && s.toLongOption.isDefined
    def doublish(s: String) = s.nonEmpty && s.toDoubleOption.isDefined
    if (nn.isEmpty) StringType
    else if (nn.forall(longish)) LongType
    else if (nn.forall(doublish)) DoubleType
    else StringType
  }

  /** Grid of nullable cell text (header split off) for one document. */
  private def grid(path: String, tableIndex: Int, header: Boolean)
      : (Seq[String], Seq[Array[String]]) = {
    val html = new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8)
    val tables = tablesIn(html)
    require(tables.nonEmpty, s"no <table> in $path")
    require(tableIndex < tables.size,
      s"tableIndex $tableIndex out of range (${tables.size} tables) in $path")
    val t = tables(tableIndex)
    val width = t.map(_.length).max
    def pad(r: Array[(Boolean, String)]): Array[String] =
      (0 until width).map(i =>
        if (i < r.length && r(i)._2.nonEmpty) r(i)._2 else null).toArray
    val headerRow = header && t.head.forall(_._1) // all-<th> first row
    val names =
      if (headerRow) (0 until width).map(i =>
        if (i < t.head.length) t.head(i)._2 else s"_c$i")
      else (0 until width).map(i => s"_c$i")
    val data = (if (headerRow) t.tail else t).map(pad)
    (names, data)
  }

  private def typed(grid: (Seq[String], Seq[Array[String]])): StructType =
    StructType(grid._1.zipWithIndex.map { case (n, i) =>
      StructField(n, inferType(grid._2.map(_(i))), nullable = true)
    })

  /** Cells stay raw text until the merged type is known, so a string
    * column keeps "1.50" as written. */
  private def convert(v: Any, dt: DataType): Any = (v, dt) match {
    case (s: String, LongType) => s.toLong
    case (s: String, DoubleType) => s.toDouble
    case _ => v
  }

  /** Read one .html/.htm file or a directory of them ([[FileSet]]). */
  def read(spark: SparkSession, path: String, tableIndex: Int = 0,
      header: Boolean = true): DataFrame =
    FileSet.read(spark, path, Seq(".html", ".htm"),
      p => typed(grid(p, tableIndex, header)),
      p => grid(p, tableIndex, header)._2.iterator.map(r => Row.fromSeq(r.toIndexedSeq)),
      convert)

  private def escape(s: String): String = s
    .replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  /**
   * to_html: one document, one `<table class="dataframe">` (pandas'
   * shape, index omitted — the engine has no row index). Driver-side
   * with the same guarded collect as to_excel; null renders as an empty
   * cell (and reads back null — unlike pandas' "NaN" text, documented
   * with the other to_csv-family null deviations).
   */
  def write(df: DataFrame, path: String, maxRows: Int = 1048575): Unit = {
    val rows = FileSet.collectCapped(df, maxRows, "to_html writes a single document")
    val cols = df.columns
    val sb = new StringBuilder
    sb.append("<table border=\"1\" class=\"dataframe\">\n<thead>\n<tr>")
    cols.foreach(c => sb.append(s"<th>${escape(c)}</th>"))
    sb.append("</tr>\n</thead>\n<tbody>\n")
    rows.foreach { r =>
      sb.append("<tr>")
      cols.indices.foreach { i =>
        val v = r.get(i)
        sb.append("<td>").append(if (v == null) "" else escape(v.toString)).append("</td>")
      }
      sb.append("</tr>\n")
    }
    sb.append("</tbody>\n</table>\n")
    val out = new FileOutputStream(path)
    try out.write(sb.toString.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }
}
