package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{Similarity, Text}
import graft.ops.{Dedup, Pq}

/** One benchmark run in one JVM: timed set-up, output checks, passes for
  * `--seconds`, and with `--trace 1` the traced passes and layer probes.
  * Writes everything it measured as one JSON file (`--out`); run.py turns
  * that into the reported metrics.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --cores C
  *             --work DIR --out FILE */
object Main {
  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // as graft.Bench sets it
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Peak resident set of this JVM in MB since the last [[resetPeakRss]]. */
  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
  private def resetPeakRss(): Boolean =
    try { Files.writeString(Paths.get("/proc/self/clear_refs"), "5"); true }
    catch { case _: Exception => false }

  /** Median seconds of `reps` runs of `df` forced through its plan. */
  private def timeForce(df: DataFrame, reps: Int = 3): Double = {
    val ts = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      df.queryExecution.toRdd.foreach(_ => ())
      (System.nanoTime() - t0) / 1e9
    }.sorted
    ts(ts.size / 2)
  }

  /** Per-row cost of each public kernel projected alone over cached copies
    * of the workload's inputs, minus the same scan projecting its input. */
  private def kernels(run: Runner, w: Workload): Map[String, Double] = {
    var out = Map.empty[String, Double]
    run.probe("kernels") { ctx =>
      graft.plans.GraftExtensions.register(ctx.spark)
      val (docs0, emb0) = w.kernelInputs
      def amplified(df: DataFrame) = (1 until 8).foldLeft(df)((a, _) => a.unionAll(df))
        .repartition(ctx.spark.sparkContext.defaultParallelism).cache()
      val docs = amplified(docs0.select("text"))
      val nd = docs.count().toDouble
      val sh = docs.select(array_distinct(Text.shingles(col("text"), 2)).as("sh")).cache()
      sh.count()
      val emb = amplified(emb0.select("vec_id", "embedding"))
      val ne = emb.count().toDouble
      val cb = Pq.codebooksFromRows(emb0, "vec_id", "embedding", m = 16, ksub = 64).localCheckpoint()
      def ns(name: String, kernel: DataFrame, base: DataFrame, n: Double) =
        ctx.call(name)((timeForce(kernel) - timeForce(base)) * 1e9 / n)
      out = Map(
        "kernels.shingles_ns_per_doc" -> ns("kernel.shingles",
          docs.select(Text.shingles(col("text"), 2)), docs.select(col("text")), nd),
        "kernels.md5_band_keys_ns_per_doc" -> ns("kernel.md5BandKeys",
          sh.select(Dedup.md5BandKeys(col("sh"), 4, 1)), sh.select(col("sh")), nd),
        "kernels.pq_encode_ns_per_vec" -> ns("kernel.pqEncode",
          Pq.encode(emb, "vec_id", "embedding", cb), emb.select(col("vec_id"), col("embedding")), ne),
        "kernels.lsh_bucket_ns_per_vec" -> ns("kernel.lshBucket",
          emb.select(Similarity.lshBucket(col("embedding"), 8)), emb.select(col("embedding")), ne))
      Seq(docs, sh, emb).foreach(_.unpersist())
    }
    out
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val (workload, seed, seconds) = (a("workload"), a("seed").toLong, a("seconds").toDouble)
    val (traced, cores, work) = (a("trace") == "1", a("cores").toInt, a("work"))
    val run = new Runner(new Spans)
    // Set-up: the session (JVM-cold), then the seeded inputs and the untimed
    // warm-up passes; the output checks read the first one's results.
    val t0s = System.nanoTime()
    val spark = session(cores, work)
    val sessionS = (System.nanoTime() - t0s) / 1e9
    run.spark = spark
    val t1 = System.nanoTime()
    val w = Workloads.setUp(workload, spark, seed, s"$work/in")
    val inputsS = (System.nanoTime() - t1) / 1e9
    val warmupS = (1 to w.warmups).map(i => run.pass(w, -i, traced = false)).sum
    val checks = w.check(run)
    val rssReset = resetPeakRss()

    val listener = new LayerListener
    val sc = spark.sparkContext
    // Closed loop: the next pass starts only when the last one is done, as
    // long as the run's seconds have not run out, so a run's pass count
    // (and with it the op_tail_s sample count) rarely changes from run to
    // run. A traced run makes its passes untraced, traced, untraced at
    // least, so the tracing overhead compares passes on both sides.
    val t0 = System.nanoTime()
    var p = 0
    while (p < (if (traced) 3 else 1) || (System.nanoTime() - t0) / 1e9 < seconds) {
      val tracedPass = traced && p % 2 == 1
      if (tracedPass) { sc.addSparkListener(listener); spark.listenerManager.register(listener) }
      run.pass(w, p, tracedPass)
      if (tracedPass) {
        listener.drain(spark)
        sc.removeSparkListener(listener); spark.listenerManager.unregister(listener)
      }
      p += 1
    }
    val measuredS = (System.nanoTime() - t0) / 1e9
    val rss = peakRssMb()

    // A failed probe leaves its metrics out (they read 0) and is reported.
    var kernelNs = Map.empty[String, Double]
    val probeErrors = mutable.ArrayBuffer[String]()
    def attempt(body: => Unit): Unit =
      try body catch { case e: Exception => probeErrors += s"${e.getClass.getSimpleName}: ${e.getMessage}" }
    if (traced) {
      sc.addSparkListener(listener); spark.listenerManager.register(listener)
      attempt(w.probes(run))
      attempt { kernelNs = kernels(run, w) }
      listener.drain(spark)
    }
    val result = Map(
      "workload" -> workload, "seed" -> seed, "cores" -> cores, "seconds" -> seconds,
      "measured_s" -> measuredS, "session_s" -> sessionS, "inputs_s" -> inputsS,
      "warmup_s" -> warmupS, "peak_rss_mb" -> rss, "rss_peak_reset" -> rssReset,
      "checks" -> checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "quality" -> w.quality, "counts" -> run.counts.toMap, "kernels" -> kernelNs,
      "probe_errors" -> probeErrors.toList,
      "records" -> run.records.toList, "extra" -> w.extra,
      "spans" -> run.spans.all.map(_.json),
      "action_phases" -> run.phases.toList) ++ listener.json
    Files.writeString(Paths.get(a("out")), Json.write(result))
    spark.stop()
  }
}
