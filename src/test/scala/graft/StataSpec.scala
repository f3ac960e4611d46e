package graft

import java.nio.file.Files

import graft.sources.Stata

/** read_stata / to_stata: the reader is validated against a GENUINE
  * pandas-written v114 fixture (src/test/resources/fixture_pandas.dta —
  * cross-implementation evidence, not a self-round-trip), plus write →
  * read round trips and multi-file alignment. */
class StataSpec extends SparkSuite {

  private val fixture = "src/test/resources/fixture_pandas.dta"

  test("reads the pandas-written v114 fixture with exact types, values, and missings") {
    val df = Stata.read(spark, fixture)
    assert(df.schema.map(f => (f.name, f.dataType.typeName)) == Seq(
      ("id", "integer"), ("small", "byte"), ("mid", "short"),
      ("price", "double"), ("ratio", "float"), ("name", "string")))
    val rows = df.orderBy("id").collect()
    assert(rows.length == 5)
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2, 3, 4, 5))
    assert(rows.map(_.getByte(1)).toSeq == Seq(-100, 0, 100, 27, -5).map(_.toByte))
    assert(rows.map(_.getShort(2)).toSeq == Seq(-30000, 0, 30000, 123, -7).map(_.toShort))
    // pandas wrote NaN as the "." missing code → null here
    assert(rows(1).isNullAt(3) && rows(0).getDouble(3) == 1.5 &&
      rows(4).getDouble(3) == 1e6)
    assert(rows(2).isNullAt(4) && rows(0).getFloat(4) == 0.5f)
    // Stata has no string missing: the empty string stays "", like pandas
    assert(rows.map(_.getString(5)).toSeq ==
      Seq("alpha", "beta", "", "delta & <x>", "epsilon"))
  }

  test("write → read round-trips types, values, nulls, and the long→int narrowing") {
    import spark.implicits._
    val df = Seq(
      (1L, Some(1.5), "a", true),
      (2L, None, "bb", false),
      (3000000000L, Some(-0.25), "", true)).toDF("id", "x", "s", "flag")
    val d = Files.createTempDirectory("graft_dta").toFile
    d.deleteOnExit()
    val p = new java.io.File(d, "t.dta").getAbsolutePath
    Stata.write(df, p)
    val back = Stata.read(spark, p)
    // id holds 3e9 → st_double (114 has no int64); boolean → st_byte
    assert(back.schema.map(f => (f.name, f.dataType.typeName)) == Seq(
      ("id", "double"), ("x", "double"), ("s", "string"), ("flag", "byte")))
    val rows = back.orderBy("id").collect()
    assert(rows.map(_.getDouble(0)).toSeq == Seq(1.0, 2.0, 3.0e9))
    assert(rows(0).getDouble(1) == 1.5 && rows(1).isNullAt(1) && rows(2).getDouble(1) == -0.25)
    assert(rows.map(_.getString(2)).toSeq == Seq("a", "bb", ""))
    assert(rows.map(_.getByte(3)).toSeq == Seq[Byte](1, 0, 1))
    // an empty frame writes a valid file of zero rows, string column too
    val empty = new java.io.File(d, "e.dta").getAbsolutePath
    Stata.write(df.limit(0), empty)
    assert(Stata.read(spark, empty).count() == 0)
  }

  test("long column that fits int32 narrows to st_int and reads back integer") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft_dta_int").toFile
    d.deleteOnExit()
    val p = new java.io.File(d, "i.dta").getAbsolutePath
    Stata.write(Seq((1L, 10L), (2L, -20L)).toDF("k", "v"), p)
    val back = Stata.read(spark, p)
    assert(back.schema("v").dataType.typeName == "integer")
    assert(back.orderBy("k").collect().map(_.getInt(1)).toSeq == Seq(10, -20))
  }

  test("multi-file directory read aligns by name and widens numeric widths") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft_dta_multi").toFile
    d.deleteOnExit()
    Stata.write(Seq((1L, "a")).toDF("id", "s"), new java.io.File(d, "a.dta").getAbsolutePath)
    Stata.write(Seq((2.5, "b")).toDF("id", "s"), new java.io.File(d, "b.dta").getAbsolutePath)
    val df = Stata.read(spark, d.getAbsolutePath)
    assert(df.schema("id").dataType.typeName == "double")
    assert(df.orderBy("id").collect().map(r => (r.getDouble(0), r.getString(1))).toSeq ==
      Seq((1.0, "a"), (2.5, "b")))
  }

  test("format 117/118 and oversized strings fail loudly") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft_dta_err").toFile
    d.deleteOnExit()
    val fake = new java.io.File(d, "f.dta")
    Files.write(fake.toPath, Array[Byte](118.toByte, 2, 1, 0, 0, 0, 0, 0))
    val e = intercept[Exception](Stata.read(spark, fake.getAbsolutePath).collect())
    assert(e.getMessage != null)
    val wide = Seq((1L, "x" * 300)).toDF("id", "s")
    val e2 = intercept[IllegalArgumentException](
      Stata.write(wide, new java.io.File(d, "w.dta").getAbsolutePath))
    assert(e2.getMessage.contains("244"))
  }
}
