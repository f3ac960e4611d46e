package graft

import scala.util.Random
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}

import graft.ops.Dedup

/** The native set-Jaccard kernel must be bit-identical to the
  * `size(array_intersect) / size(array_union)` score it replaced — on every
  * pair of the documents fixture's folded sets and on the edges (empty sets,
  * repeated values, null elements at either end, a null array), both under
  * codegen and interpreted — and must refuse an unsorted input. */
class JaccardSimSpec extends SparkSuite {

  private def reference(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b)).cast("double")

  private def kernel(a: Column, b: Column): Column = {
    graft.plans.GraftExtensions.register(spark)
    call_function("graft_jaccard", a, b)
  }

  /** Runs `body` with whole-stage codegen and with every expression
    * interpreted. */
  private def inBothModes(body: String => Unit): Unit = {
    val confs = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val prev = confs.map(k => k -> spark.conf.getOption(k))
    for ((mode, ws) <- Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false")) {
      try {
        spark.conf.set(confs(0), ws); spark.conf.set(confs(1), mode)
        body(mode)
      } finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  /** Kernel and reference agree bit for bit on every (a, b) row; returns
    * the number of rows compared. */
  private def assertSame(df: DataFrame): Long = {
    var n = 0L
    inBothModes { mode =>
      val rows = df.select(kernel(col("a"), col("b")), reference(col("a"), col("b"))).collect()
      rows.zipWithIndex.foreach { case (r, i) =>
        val (k, e) = (r.get(0), r.get(1))
        assert(k == e || (k != null && e != null && java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
          java.lang.Double.doubleToLongBits(r.getDouble(1))), s"$mode row $i: kernel $k != reference $e")
      }
      n = rows.length
    }
    n
  }

  /** An (a, b) frame the optimizer cannot evaluate at plan time (a local
    * relation would fold the projection before codegen ever runs). */
  private def pairs(rows: Seq[(Seq[java.lang.Long], Seq[java.lang.Long])]): DataFrame = {
    val t = ArrayType(LongType, containsNull = true)
    spark.createDataFrame(spark.sparkContext.parallelize(rows.map { case (a, b) => Row(a, b) }, 2),
      StructType(Seq(StructField("a", t), StructField("b", t))))
  }

  private def longs(xs: Any*): Seq[java.lang.Long] =
    xs.map { case null => null; case v => java.lang.Long.valueOf(v.toString.toLong) }

  test("kernel == size(array_intersect)/size(array_union) on every pair of the documents fixture") {
    val sets = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select(col("doc_id"), Dedup.foldedShingleSet(Dedup.distinctDigests(col("text"), 3)).as("hs"))
    val a = sets.select(col("doc_id").as("ia"), col("hs").as("a"))
    val b = sets.select(col("doc_id").as("ib"), col("hs").as("b"))
    // two empty sets are the one pair the reference cannot score (0/0
    // aborts under ANSI); the edge case below pins the kernel there
    val all = a.crossJoin(b).filter(col("ia") < col("ib") && (size(col("a")) > 0 || size(col("b")) > 0))
    assert(assertSame(all) > 100000L)
    assert(all.filter(kernel(col("a"), col("b")) > 0.2).count() > 0L, "no similar pair: a vacuous check")
  }

  test("edges: empty sets, repeated values, null elements, null arrays") {
    val rows = Seq(
      longs() -> longs(1, 2),
      longs(1, 1, 2, 3, 3) -> longs(2, 2, 3, 4),
      longs(Long.MinValue, -1, 0, Long.MaxValue) -> longs(Long.MinValue, Long.MaxValue),
      longs(null, 1, 2) -> longs(null, 2), // nulls first, as sort_array leaves them
      longs(1, 2, null) -> longs(2, null), // nulls last, as array_sort leaves them
      longs(null, null) -> longs(null),
      longs(null) -> longs(),
      longs(null, 5) -> longs(5),
      (null, longs(1)),
      (longs(1), null))
    // random ascending sets over a small domain: many shared and repeated values
    val rnd = new Random(7)
    def set() = longs(Seq.fill(rnd.nextInt(12))(rnd.nextInt(15)).sorted: _*) ++
      (if (rnd.nextInt(4) == 0) longs(null) else Nil)
    val random = Iterator.continually(set() -> set()).filter(p => p._1.nonEmpty || p._2.nonEmpty).take(2000)
    assert(assertSame(pairs(rows ++ random)) == rows.size + 2000)

    // the reference aborts on two empty sets (0/0 under ANSI); the kernel
    // returns the double division's NaN
    inBothModes { mode =>
      val empty = pairs(Seq(longs() -> longs()))
      assert(empty.select(kernel(col("a"), col("b"))).head().getDouble(0).isNaN, mode)
    }
  }

  test("an unsorted input throws instead of returning a score") {
    for ((a, b) <- Seq(longs(2, 1) -> longs(1), longs(1) -> longs(1, 3, 2), longs(1, 1, null, 0) -> longs(1))) {
      inBothModes { mode =>
        val e = intercept[Exception](pairs(Seq(a -> b)).select(kernel(col("a"), col("b"))).collect())
        assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .exists(x => String.valueOf(x.getMessage).contains("not ascending")), s"$mode $a $b: $e")
      }
    }
  }
}
