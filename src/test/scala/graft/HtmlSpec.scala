package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.sources.Html

/** read_html / to_html: round trip, tag-soup leniency, header/typing
  * rules, entity escaping, multi-file by-name alignment. */
class HtmlSpec extends SparkSuite {

  private def tmpDir(tag: String) = {
    val d = Files.createTempDirectory(s"graft_html_$tag").toFile
    d.deleteOnExit(); d
  }

  test("write → read round-trips values, types, and nulls") {
    import spark.implicits._
    val df = Seq(
      (1L, "a & <b>", Some(1.5)),
      (2L, "plain", None),
      (3L, "trailing space ", Some(100.0))).toDF("id", "s", "x")
    val path = new java.io.File(tmpDir("rt"), "t.html").getAbsolutePath
    Html.write(df, path)
    val back = Html.read(spark, path)
    assert(back.schema.map(f => (f.name, f.dataType.typeName)) ==
      Seq(("id", "long"), ("s", "string"), ("x", "double")))
    val got = back.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.get(2)))).toSeq
    // cell text trims (pandas' whitespace handling in html), null cell
    // round-trips as null
    assert(got == Seq((1L, "a & <b>", Some(1.5)), (2L, "plain", None),
      (3L, "trailing space", Some(100.0))))
  }

  test("foreign tag soup: attributes, nested markup, th-less tables, tableIndex") {
    val html =
      """<html><body>
        |<p>intro</p>
        |<table id="first"><tr><th>k</th><th>v</th></tr>
        |  <tr><td>x</td><td><b>1</b></td></tr>
        |  <tr class="odd"><td>y</td><td>2</td></tr></table>
        |<TABLE><TR><TD>9</TD><TD>8</TD></TR></TABLE>
        |</body></html>""".stripMargin
    val d = tmpDir("soup")
    val p = new java.io.File(d, "page.html")
    Files.write(Paths.get(p.getAbsolutePath), html.getBytes(StandardCharsets.UTF_8))
    val first = Html.read(spark, p.getAbsolutePath)
    assert(first.columns.toSeq == Seq("k", "v"))
    assert(first.orderBy("k").collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("x", 1L), ("y", 2L)))
    // second table: no <th> header → positional names, uppercase tags ok
    val second = Html.read(spark, p.getAbsolutePath, tableIndex = 1)
    assert(second.columns.toSeq == Seq("_c0", "_c1"))
    assert(second.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((9L, 8L)))
  }

  test("multi-file directory read aligns by name and widens long→double") {
    import spark.implicits._
    val d = tmpDir("multi")
    Html.write(Seq((1L, "a")).toDF("id", "s"), new java.io.File(d, "a.html").getAbsolutePath)
    // opposite header order + a long→double widening on id
    Html.write(Seq(("b", 2.5)).toDF("s", "id"), new java.io.File(d, "b.html").getAbsolutePath)
    // c's `s` infers double; merged into the string column it keeps its
    // cell text "1.50", not a re-rendered "1.5"
    Html.write(Seq((3L, "1.50")).toDF("id", "s"), new java.io.File(d, "c.html").getAbsolutePath)
    val df = Html.read(spark, d.getAbsolutePath)
    assert(df.columns.toSeq == Seq("id", "s"))
    assert(df.schema("id").dataType.typeName == "double")
    assert(df.orderBy("id").collect().map(r => (r.getDouble(0), r.getString(1))).toSeq ==
      Seq((1.0, "a"), (2.5, "b"), (3.0, "1.50")))
  }

  test("ragged rows pad with null; duplicate header names fail loudly") {
    val html = """<table><tr><th>a</th><th>b</th><th>c</th></tr>
                 |<tr><td>1</td><td>2</td><td>3</td></tr>
                 |<tr><td>4</td></tr></table>""".stripMargin
    val d = tmpDir("ragged")
    val p = new java.io.File(d, "r.html")
    Files.write(Paths.get(p.getAbsolutePath), html.getBytes(StandardCharsets.UTF_8))
    val df = Html.read(spark, p.getAbsolutePath)
    assert(df.count() == 2)
    assert(df.filter(df("a") === 4).collect().head.isNullAt(2))

    val dd = tmpDir("dup")
    val dup = """<table><tr><th>a</th><th>a</th></tr><tr><td>1</td><td>2</td></tr></table>"""
    Files.write(Paths.get(new java.io.File(dd, "dup.html").getAbsolutePath),
      dup.getBytes(StandardCharsets.UTF_8))
    val e = intercept[Exception](Html.read(spark, dd.getAbsolutePath))
    assert(e.getMessage.contains("duplicate column name"))

    val empty = tmpDir("empty")
    val e2 = intercept[IllegalArgumentException](Html.read(spark, empty.getAbsolutePath))
    assert(e2.getMessage.contains("no .html files"))
  }
}
