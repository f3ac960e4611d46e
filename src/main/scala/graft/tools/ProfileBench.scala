package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import graft.BenchKit
import graft.queries.Registry
import scala.collection.mutable

/** Per-stage profile of the bench headliners (guide §1: measure first).
  *
  * The bench JSON gives one wall-clock number per query; this main breaks
  * it into scheduled jobs and stages — per stage: task count, wall
  * duration, summed executor run time, input/shuffle bytes — so the
  * optimization target is visible (single-task scan stage? exchange-bound?
  * many tiny scheduling rounds?). Methodology matches Bench: same session
  * shape, same forcing step, warmup scan first, each query run
  * `runs` times and the FASTEST run's stage breakdown printed (JIT-warm,
  * matching the bench's min statistic).
  *
  * Args: optional query-name filter (substring ok). Env: SPARK_GRAFT_SF_DIR,
  * SPARK_GRAFT_CPUS, SPARK_GRAFT_BENCH_RUNS (default 5).
  */
object ProfileBench {
  final case class StageRow(stageId: Int, name: String, tasks: Int,
      wallMs: Long, execMs: Long, inputMB: Double, shReadMB: Double,
      shWriteMB: Double, records: Long)

  def main(args: Array[String]): Unit = {
    val sfDir = BenchKit.sfDir
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "5").toInt
    val spark = BenchKit.session()

    // stage collector: jobs started since the last clear() + their stages
    val stages = mutable.Map[Int, StageRow]()
    val jobs = mutable.ArrayBuffer[(Int, Int)]() // (jobId, nStages)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
        jobs += ((j.jobId, j.stageIds.size))
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
        val si = sc.stageInfo
        val tm = si.taskMetrics
        val wall = (for {a <- si.completionTime; b <- si.submissionTime} yield a - b).getOrElse(-1L)
        stages(si.stageId) = StageRow(si.stageId,
          si.name.takeWhile(_ != '\n').take(60), si.numTasks, wall,
          tm.executorRunTime,
          tm.inputMetrics.bytesRead / 1e6,
          tm.shuffleReadMetrics.totalBytesRead / 1e6,
          tm.shuffleWriteMetrics.bytesWritten / 1e6,
          tm.inputMetrics.recordsRead)
      }
    }
    spark.sparkContext.addSparkListener(listener)

    // warmup (matches Bench)
    BenchKit.force(spark.read.parquet(s"$sfDir/lineitem.parquet"))

    val wanted = if (args.isEmpty) Registry.all.filter(_.headline)
      else Registry.all.filter(q => args.exists(q.name.contains))
    wanted.foreach { q =>
      // every run's (seconds, jobs, stages); keep the FASTEST run's
      val (best, bestJobs, bestStages) = (1 to runs).map { _ =>
        listener.synchronized { stages.clear(); jobs.clear() }
        val dt = BenchKit.time(s"[profile] ${q.name}")(BenchKit.force(q.fn(spark, sfDir)))
        // listener events are async: give the bus a beat to drain
        // (listenerBus.waitUntilEmpty is private[spark])
        Thread.sleep(200)
        listener.synchronized((dt, jobs.size, stages.values.toSeq.sortBy(_.stageId)))
      }.minBy(_._1)
      println(f"\n=== ${q.name} best=${best}%.3fs jobs=$bestJobs stages=${bestStages.size}")
      val totWall = bestStages.map(_.wallMs).sum
      println(f"    stage wall sum=${totWall}ms (gaps/driver=${best * 1000 - totWall}%.0fms)")
      bestStages.foreach { s =>
        println(f"    [${s.stageId}%4d] tasks=${s.tasks}%3d wall=${s.wallMs}%5dms exec=${s.execMs}%5dms " +
          f"in=${s.inputMB}%7.2fMB rec=${s.records}%8d shR=${s.shReadMB}%6.2fMB shW=${s.shWriteMB}%6.2fMB  ${s.name}")
      }
    }
    spark.stop()
  }
}
