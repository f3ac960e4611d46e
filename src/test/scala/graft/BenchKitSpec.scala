package graft

import graft.BenchKit.{Obj, Stats, json, quote}

/** The shared measurement harness: JSON emitter, run statistics, the
  * bench's one-line contract, plan normalization and the amplified-data
  * caches the scale mains time against. */
class BenchKitSpec extends SparkSuite {

  test("quote escapes quote, backslash and every control character below 0x20") {
    assert(quote("a\"b\\c") == "\"a\\\"b\\\\c\"")
    assert(quote("l1\nl2\rl3\tend") == "\"l1\\nl2\\rl3\\tend\"")
    assert(quote("\u0000\u0001\u001f") == "\"\\u0000\\u0001\\u001f\"")
    // 0x20 and above pass through untouched, non-ASCII included
    assert(quote(" ~é×") == "\" ~é×\"")
  }

  test("json renders nested objects in key order, arrays, and non-finite numbers as null") {
    val line = json(Obj("z" -> 1, "a" -> Obj("y" -> 0.5, "b" -> Seq("p", "q")),
      "t" -> true, "n" -> 7L, "inf" -> Double.PositiveInfinity, "nan" -> Double.NaN,
      "e" -> Seq()))
    assert(line == """{"z":1,"a":{"y":0.500,"b":["p","q"]},"t":true,"n":7,"inf":null,"nan":null,"e":[]}""")
  }

  test("time logs a failure and times it +inf; stats skip failed runs") {
    assert(BenchKit.time("[spec] boom")(throw new RuntimeException("boom")) == Double.PositiveInfinity)
    assert(BenchKit.time("[spec] ok")(()) < 1.0)
    val inf = Double.PositiveInfinity
    assert(BenchKit.stats(Seq(0.4, inf, 0.1, 0.3, 0.2)) == Some(Stats(0.1, 0.3, 0.2)))
    assert(BenchKit.stats(Seq(2.0)) == Some(Stats(2.0, 2.0, 0.0)))
    assert(BenchKit.stats(Seq(inf, inf)).isEmpty)
  }

  test("Bench's line keeps its key order; a failed query is out of the totals and counted") {
    val line = Bench.line("/data/sf0.1", Seq(
      "q01" -> Some(Stats(1.0, 1.5, 0.25)),
      "q02" -> None,
      "q03" -> Some(Stats(0.5, 0.75, 0.125))))
    assert(line ==
      """{"metric":"total","value":1.500,"value_median":2.250,"unit":"sec","failed":1,""" +
      """"queries":{"q01":1.000,"q02":-1.000,"q03":0.500},""" +
      """"queries_median":{"q01":1.500,"q02":-1.000,"q03":0.750},""" +
      """"queries_spread":{"q01":0.250,"q02":-1.000,"q03":0.125},"sf":"/data/sf0.1"}""")
  }

  test("ExplainAudit output is identical across two explains in one session") {
    // q57 localCheckpoints (RDD ids), q261 builds lambdas (fresh variable
    // names), q03 is a plain aggregate (expression ids)
    Seq("q57_global_cumsum", "q261_rolling_win_types", "q03_groupby_agg_high").foreach { n =>
      val q = queries.Registry.all.find(_.name == n).get
      val first = tools.ExplainAudit.plan(q.fn(spark, sfDir))
      val second = tools.ExplainAudit.plan(q.fn(spark, sfDir))
      assert(first == second, s"$n plan text differs between two explains")
      assert(!"#\\d".r.findFirstIn(first).isDefined, s"$n kept an expression id")
      // a source line number moves with any edit to the calling file
      assert(!"\\.scala:\\d".r.findFirstIn(first).isDefined, s"$n kept a call-site line number")
    }
  }

  test("amplified-data caches key on the source dir and the dup %") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    def rows(dir: String, t: String) = spark.read.parquet(s"$dir/$t.parquet").count()
    val small = ScaleBench.ensureAmplified(spark, "/root/testdata/sf0.001", 2)
    val large = ScaleBench.ensureAmplified(spark, "/root/testdata/sf0.01", 2)
    assert(rows(small, "lineitem") == 2 * rows(sfDir, "lineitem"))
    assert(rows(small, "lineitem") != rows(large, "lineitem"))
    val dup10 = ScaleDedupBench.ensure(spark, sfDir, 1, 10)
    val dup50 = ScaleDedupBench.ensure(spark, sfDir, 1, 50)
    assert(rows(dup10, "documents") < rows(dup50, "documents"))
  }
}
