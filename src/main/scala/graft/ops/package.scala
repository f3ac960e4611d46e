package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

package object ops {

  /** The session's `spark.sql.shuffle.partitions`, or 32 when it is unset:
    * the default width of the ops that size their own range partitioning,
    * row/time blocks or output files. */
  private[graft] def shufflePartitions(spark: SparkSession): Int =
    spark.conf.get("spark.sql.shuffle.partitions", "32").toInt

  /** Checkpoint `df` — graft's one materialization policy. Every op that
    * must cut a lineage or read a table more than once goes through here.
    *
    * With a checkpoint dir set (`sc.setCheckpointDir`, Spark's own
    * deployment setting) this is a reliable `checkpoint`: the blocks are
    * files, so losing an executor recomputes nothing, and the files are
    * reclaimed by Spark (`spark.cleaner.referenceTracking.cleanCheckpoints`),
    * not by graft. Without one it is a `localCheckpoint`: executor-local
    * blocks, faster, but not replayable — lose an executor and the reading
    * job fails instead of recomputing.
    *
    * An eager checkpoint's job runs under the description `graft:<op>`; the
    * caller's description is restored afterwards. The job group is never
    * set: it is the caller's (benchmarks attribute jobs by group). */
  private[graft] def materialize(df: DataFrame, op: String, eager: Boolean = true): DataFrame =
    described(df, s"graft:$op")(checkpoint(df, eager))

  /** The one loop of graft's iterative ops. Round n (from 1, at most
    * `maxRounds`) runs `step(current, n)` and materializes the frame it
    * returns, all under the description `graft:<op>:round n`; `None` stops
    * the loop. Once the next copy exists, the superseded one is
    * [[release]]d (`init` too, when it is a checkpoint), so an op holds at
    * most two copies however many rounds it runs. Returns the last copy. */
  private[graft] def iterate(init: DataFrame, op: String, maxRounds: Int)(
      step: (DataFrame, Int) => Option[DataFrame]): DataFrame = {
    @annotation.tailrec
    def loop(current: DataFrame, round: Int): DataFrame =
      if (round > maxRounds) current
      else described(current, s"graft:$op:round $round") {
        step(current, round).map(checkpoint(_, eager = true))
      } match {
        case Some(next) => release(current); loop(next, round + 1)
        case None => current
      }
    loop(init, 1)
  }

  /** Free a [[materialize]]d copy now instead of when the ContextCleaner
    * gets to it: unpersist the RDD under its `LogicalRDD`
    * (`Dataset.unpersist` only drops CacheManager entries, and a checkpoint
    * is not one). Reading `df` afterwards fails, so call it only once
    * nothing will. A frame that is not a checkpoint is left alone. */
  private[graft] def release(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case r: LogicalRDD => r.rdd.unpersist(blocking = false)
    case _ =>
  }

  private def checkpoint(df: DataFrame, eager: Boolean): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager)
    else df.localCheckpoint(eager)

  /** Runs `body` under the job description `desc`, then restores the
    * caller's. */
  private[graft] def described[T](df: DataFrame, desc: String)(body: => T): T = {
    val sc = df.sparkSession.sparkContext
    val caller = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body finally sc.setJobDescription(caller)
  }
}
