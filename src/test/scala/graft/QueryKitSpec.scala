package graft

import org.apache.spark.sql.functions._
import graft.queries.QueryKit

/** The fixture loader's timestamp normalization: every physical layout
  * the driver's testdata has shipped (or plausibly could) must converge
  * on the same microsecond TIMESTAMP_NTZ. The r8 fixture drop switched
  * long-nanos to TIMESTAMP(MICROS) and crashed 45 time queries out of
  * the gate — the unit heuristic exists so a future drop (micros-as-
  * long, millis, seconds) cannot repeat that. */
class QueryKitSpec extends SparkSuite {

  private val usExpected = 1700000000000000L // 2023-11-14T22:13:20 in µs

  private def tsOf(df: org.apache.spark.sql.DataFrame): Long = {
    val out = QueryKit.normalizeTs(df)
    assert(out.schema("ts").dataType.typeName == "timestamp_ntz")
    out.select(unix_micros(col("ts").cast("timestamp"))).head().getLong(0)
  }

  test("long ts columns detect their epoch unit by magnitude") {
    import spark.implicits._
    assert(tsOf(Seq(1700000000000000000L).toDF("ts")) == usExpected) // nanos
    assert(tsOf(Seq(1700000000000000L).toDF("ts")) == usExpected)    // micros
    assert(tsOf(Seq(1700000000000L).toDF("ts")) == usExpected)       // millis
    assert(tsOf(Seq(1700000000L).toDF("ts")) == usExpected)          // seconds
  }

  test("epoch-day, int32, and ISO-string temporal drops normalize too") {
    import spark.implicits._
    val dayExpected = 19675L * 86400000000L // 2023-11-14 as epoch days → µs
    assert(tsOf(Seq(19675L).toDF("ts")) == dayExpected)              // long days
    assert(tsOf(Seq(19675).toDF("ts")) == dayExpected)               // int32 days
    assert(tsOf(Seq(1700000000).toDF("ts")) == usExpected)           // int32 seconds
    assert(tsOf(Seq("2023-11-14 22:13:20").toDF("ts")) == usExpected)
    assert(tsOf(Seq("2023-11-14T22:13:20").toDF("ts")) == usExpected)
    assert(tsOf(Seq("2023-11-14").toDF("ts")) == dayExpected)
  }

  test("vector kernels accept float and double embedding layouts alike") {
    import spark.implicits._
    val f = Seq((Array(1.0f, 2.0f, 3.0f), Array(3.0f, 2.0f, 1.0f))).toDF("a", "b")
    val d = Seq((Array(1.0, 2.0, 3.0), Array(3.0, 2.0, 1.0))).toDF("a", "b")
    graft.plans.GraftExtensions.register(spark)
    def cos(df: org.apache.spark.sql.DataFrame, l: String, r: String): Double =
      df.select(call_function("graft_cosine", col(l), col(r))).head().getDouble(0)
    val expect = 10.0 / 14.0 // (3+4+3) / (√14·√14)
    assert(math.abs(cos(f, "a", "b") - expect) < 1e-12)
    assert(math.abs(cos(d, "a", "b") - expect) < 1e-12)
    // mixed widths (float corpus joined to double query vectors)
    val m = Seq((Array(1.0f, 2.0f, 3.0f), Array(3.0, 2.0, 1.0))).toDF("a", "b")
    assert(math.abs(cos(m, "a", "b") - expect) < 1e-12)
    // self-cosine (what SelfCosineRule rewrites cos(a,a) into) on both widths
    assert(math.abs(cos(f, "a", "a") - 1.0) < 1e-12)
    assert(math.abs(cos(d, "a", "a") - 1.0) < 1e-12)
  }

  test("timestamp and ntz columns pass through; frames without ts untouched") {
    import spark.implicits._
    val t = Seq(1700000000000000L).toDF("us")
      .select(timestamp_micros(col("us")).as("ts"))
    assert(tsOf(t) == usExpected)
    val ntz = t.select(col("ts").cast("timestamp_ntz").as("ts"))
    assert(tsOf(ntz) == usExpected)
    val none = Seq((1, "x")).toDF("a", "b")
    assert(QueryKit.normalizeTs(none).columns.toSeq == Seq("a", "b"))
  }

  test("the schema memo re-infers a parquet directory rewritten in place") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_qk_schema").toFile
    val table = new java.io.File(dir, "t.parquet")
    try {
      Seq(1L, 2L).toDF("a").write.parquet(table.getPath)
      assert(QueryKit.t(spark, dir.getPath, "t").columns.toSeq == Seq("a"))
      val mtime = table.lastModified
      Seq(("x", 7)).toDF("b", "c").write.mode("overwrite").parquet(table.getPath)
      // a store that keeps the directory's own timestamp (or has none, as
      // object stores report 0) must still see the new files
      assert(table.setLastModified(mtime))
      val back = QueryKit.t(spark, dir.getPath, "t")
      assert(back.columns.toSeq == Seq("b", "c"))
      assert(back.collect().map(r => (r.getString(0), r.getInt(1))).toSeq == Seq(("x", 7)))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("moneyDiscSum rounds the exact unit sum half away from zero at half-cent ties") {
    import spark.implicits._
    // Every group's exact sum of cents × (100 − discount bp) ends in 50:
    // a half-cent tie after dividing by 10^4. "seed55" is the small
    // shape headline seed 55 hit in q01 (DuckDB's round of the double
    // went down, the exact rounding goes up); "large" puts the tie
    // 8796093022208.0050 past 15 significant digits, where the nearest
    // double is 8796093022208.0039 and rounding it lands on .00, not .01.
    val rows = Seq(
      ("seed55", 10.01, 0.5),
      ("negative", -10.01, 0.5),
      ("large", 17592186044416.01, 0.5))
    val got = rows.toDF("g", "price", "disc").groupBy("g")
      .agg(QueryKit.moneyDiscSum(col("price"), col("disc")).as("s"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    rows.groupBy(_._1).foreach { case (g, rs) =>
      val units = rs.map { case (_, p, d) =>
        BigInt(math.floor(p * 100 + 0.5).toLong) * (100 - math.floor(d * 100 + 0.5).toLong)
      }.sum
      assert(units.abs % 100 == 50, s"$g: fixture sum $units is not a half-cent tie")
      val exact = (BigDecimal(units) / 10000).setScale(2, BigDecimal.RoundingMode.HALF_UP)
      assert(got(g) == exact.toDouble, s"$g: ${got(g)} vs exact $exact")
    }
  }
}
