package graft

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.api.{Frame, SortKey}
import graft.ops.{Cumulative, RowOrder}

/**
 * Randomized equivalence tests: the distributed two-pass formulations
 * must equal their naive single-task formulations on ARBITRARY data —
 * random values, random sizes, random partition counts — not just the
 * fixtures. Seeded, so every run checks the same datasets (deterministic
 * CI) while still exercising shapes nobody hand-picked: duplicates,
 * negative values, single rows, partition counts exceeding row counts.
 */
class PropertySpec extends SparkSuite {

  private def cases(seed: Long, n: Int): Seq[(List[(Long, Double)], Int)] = {
    val rnd = new scala.util.Random(seed)
    (1 to n).map { _ =>
      val size = 1 + rnd.nextInt(60)
      // a small value vocabulary forces duplicate order keys
      val rows = List.tabulate(size)(i => (i.toLong, (rnd.nextInt(41) - 20) / 4.0))
      (rows, 1 + rnd.nextInt(5))
    }
  }

  test("two-pass row order equals the single-task window row_number on random data") {
    import spark.implicits._
    cases(seed = 11, n = 6).foreach { case (rows, parts) =>
      val df = spark.createDataset(rows).toDF("id", "v").repartition(parts)
      val fast = RowOrder.withRowOrder(df,
        Seq(SortKey.desc("v"), SortKey.asc("id")), Some(parts))
        .select(col("id"), col(Frame.RowOrder).as("r"))
      val naive = df.withColumn("r",
        row_number().over(Window.orderBy(col("v").desc, col("id").asc)) - 1)
        .select(col("id"), col("r").cast("long"))
      assertParity(fast, naive)
    }
  }

  test("parallel-prefix global cumsum equals the single-task running window on random data") {
    import spark.implicits._
    cases(seed = 23, n = 6).foreach { case (rows, parts) =>
      val df = spark.createDataset(rows).toDF("id", "v").repartition(parts)
      val fast = Cumulative.globalRunning(df, Seq(SortKey.asc("id")), "sum",
        Seq("v" -> "v_sum"), numPartitions = Some(parts))
        .select(col("id"), round(col("v_sum"), 6).as("c"))
      val naive = df.withColumn("c",
        round(sum(col("v")).over(Window.orderBy(col("id"))
          .rowsBetween(Window.unboundedPreceding, 0)), 6))
        .select(col("id"), col("c"))
      assertParity(fast, naive)
    }
  }

  test("cumprodDouble tracks cumprodLong within FP tolerance on random small factors") {
    import spark.implicits._
    val rnd = new scala.util.Random(37)
    (1 to 5).foreach { _ =>
      val size = 1 + rnd.nextInt(50)
      val rows = List.tabulate(size)(i => (i.toLong, 1L + rnd.nextInt(3)))
      val df = spark.createDataset(rows).toDF("i", "f").withColumn("k", lit("g"))
      val ord = Seq(SortKey.asc("i"))
      val exact = Frame(df).groupby("k").cumprodLong("f", "cp", ord)
        .df.orderBy("i").collect().map(_.getAs[Long]("cp"))
      val approx = Frame(df).groupby("k").cumprodDouble("f", "cp", ord)
        .df.orderBy("i").collect().map(_.getAs[Double]("cp"))
      exact.zip(approx).foreach { case (e, a) =>
        assert(math.abs(a - e.toDouble) <= math.abs(e.toDouble) * 1e-11,
          s"exact=$e approx=$a")
      }
    }
  }

  test("block-overlap global rolling equals the single-partition window on random data") {
    import spark.implicits._
    cases(seed = 41, n = 5).foreach { case (rows, parts) =>
      val df = spark.createDataset(rows).toDF("id", "v").repartition(parts)
      val window = 1 + new scala.util.Random(rows.size).nextInt(7)
      val fast = graft.ops.RollingBlocks.rollingAgg(
        df, Seq(SortKey.asc("id")), window,
        Seq(("v", "sum", "rs"), ("v", "mean", "rm"), ("v", "count", "rc"),
          ("v", "median", "rmed")),
        blockSize = Some(math.max(window.toLong, 5L))) // tiny blocks: force many ghosts
        .select(col("id"), round(col("rs"), 6).as("rs"),
          round(col("rm"), 6).as("rm"), col("rc"), round(col("rmed"), 6).as("rmed"))
      val w = Window.orderBy(col("id")).rowsBetween(-(window - 1), Window.currentRow)
      val sorted = sort_array(collect_list(col("v")).over(w))
      val m = size(sorted)
      val half = floor(m / lit(2)).cast("int")
      val med = when(m % 2 === 1, element_at(sorted, half + 1))
        .otherwise((element_at(sorted, half) + element_at(sorted, half + 1)) / 2.0)
      val naive = df.select(col("id"),
        when(count(col("v")).over(w) >= window, round(sum(col("v")).over(w), 6)).as("rs"),
        when(count(col("v")).over(w) >= window, round(avg(col("v")).over(w), 6)).as("rm"),
        when(count(col("v")).over(w) >= window, count(col("v")).over(w)).as("rc"),
        when(count(col("v")).over(w) >= window, round(med, 6)).as("rmed"))
      assertParity(fast, naive)
    }
  }

  test("block-overlap time rolling equals the single-partition range window on random data") {
    import spark.implicits._
    val rnd = new scala.util.Random(71)
    (1 to 4).foreach { _ =>
      val size = 5 + rnd.nextInt(60)
      // clustered timestamps (seconds) with deliberate exact ties
      // offset straddles 1970 so negative epoch-µs hit the floor/pmod
      // block math (cast-truncation + signed % silently lose boundary
      // windows there — the round-6 review fix)
      val rows = List.tabulate(size)(i =>
        (i.toLong, (rnd.nextInt(40) * 7 - 140).toLong, rnd.nextInt(20).toDouble))
      val df = spark.createDataset(rows).toDF("id", "sec", "v")
        .withColumn("ts", timestamp_seconds(col("sec")))
        .repartition(1 + rnd.nextInt(4))
      val winSec = 5 + rnd.nextInt(30)
      val fast = graft.ops.RollingBlocks.rollingTimeAgg(
        df, "ts", winSec, Seq(("v", "sum", "s"), ("v", "count", "c")),
        blockDurationSec = Some(winSec.toLong)) // minimum blocks: max ghosts
        .select(col("id"), round(col("s"), 6).as("s"), col("c"))
      val w = Window.orderBy(unix_micros(col("ts")))
        .rangeBetween(-(winSec * 1000000L - 1), Window.currentRow)
      val naive = df.select(col("id"),
        round(sum(col("v")).over(w), 6).as("s"),
        count(col("v")).over(w).cast("long").as("c"))
      assertParity(fast, naive)
    }
  }

  test("hash-min connected components equal driver union-find on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(53)
    (1 to 6).foreach { _ =>
      val nNodes = 2 + rnd.nextInt(30)
      val nEdges = 1 + rnd.nextInt(40)
      val edges = List.fill(nEdges)(
        (rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong))
        .filter { case (a, b) => a != b }
      if (edges.nonEmpty) {
        // driver-side union-find oracle
        val parent = mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) => parent(find(a)) = find(b) }
        val nodes = parent.keys.toList // snapshot: find() path-compresses
        val clusters = nodes.groupBy(find).values.toList
        def labels(df: DataFrame): Map[Any, Any] = graft.ops.Dedup.connectedComponents(
          df.repartition(3), "a", "b", maxRounds = 40)
          .collect().map(r => r.get(0) -> r.get(1)).toMap
        val df = edges.toDF("a", "b")
        val want: Map[Any, Any] = clusters.flatMap { members =>
          val m = members.min
          members.map(_ -> m)
        }.toMap
        assert(labels(df) == want, s"edges=$edges")
        // the same graph over string ids: lexicographic order ("10" < "9")
        // picks other minima, and the drop count must hold for any ordered type
        val wantStr: Map[Any, Any] = clusters.flatMap { members =>
          val s = members.map(_.toString)
          s.map(_ -> s.min)
        }.toMap
        val asStr = df.select(col("a").cast("string").as("a"), col("b").cast("string").as("b"))
        assert(labels(asStr) == wantStr, s"string edges=$edges")
      }
    }
  }

  test("xlsx round-trip preserves arbitrary strings and numerics") {
    import spark.implicits._
    val rnd = new scala.util.Random(67)
    // strings hostile to XML/zip: control-adjacent, unicode, quotes, blanks
    val alphabet = "ab<>&\"'é中\t β" + "]]>"
    (1 to 3).foreach { _ =>
      val rows = List.tabulate(1 + rnd.nextInt(20)) { i =>
        val s = List.fill(rnd.nextInt(12))(
          alphabet(rnd.nextInt(alphabet.length))).mkString
        (i.toLong, s, rnd.nextLong() % 100000, rnd.nextDouble() * 1e6 - 5e5)
      }
      val df = rows.toDF("id", "s", "n", "x")
      val f = java.io.File.createTempFile("graft_xl_prop", ".xlsx")
      f.deleteOnExit()
      graft.sources.Excel.write(df, f.getAbsolutePath)
      val back = graft.sources.Excel.read(spark, f.getAbsolutePath)
      val a = back.orderBy("id").collect()
      val b = df.orderBy("id").collect()
      a.zip(b).foreach { case (x, y) =>
        assert(x.getLong(0) == y.getLong(0))
        // empty cells read back as null — pandas does the same
        assert(Option(x.getString(1)).getOrElse("") == y.getString(1))
        assert(x.getLong(2) == y.getLong(2))
        assert(math.abs(x.getDouble(3) - y.getDouble(3)) < 1e-9)
      }
    }
  }
}
