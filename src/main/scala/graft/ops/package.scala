package graft

import org.apache.spark.sql.{classic, DataFrame, Encoders, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{count, lit}

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
    * set: it is the caller's (benchmarks attribute jobs by group).
    *
    * A checkpoint has no usable size for the planner, so a join against
    * it would shuffle both sides before AQE sees that one is small. An
    * eager copy whose columns are all fixed-width is therefore measured:
    * its rows are counted inside its own job, and rows × row width is
    * returned as the copy's planner statistics. Each join that reads the
    * copy then makes the planner's own broadcast decision on that size,
    * under the session's `spark.sql.autoBroadcastJoinThreshold`. */
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

  /** The checkpoint step [[materialize]] and [[iterate]] share, with the
    * size step described at [[materialize]]. */
  private def checkpoint(df: DataFrame, eager: Boolean): DataFrame = {
    def copy(d: DataFrame) =
      if (d.sparkSession.sparkContext.getCheckpointDir.isDefined) d.checkpoint(eager)
      else d.localCheckpoint(eager)
    if (!eager || !df.schema.forall(f => UnsafeRow.isFixedLength(f.dataType))) copy(df)
    else {
      val rows = Observation()
      val out = copy(df.observe(rows, count(lit(1)).as("rows")))
      val n = BigInt(rows.get("rows").asInstanceOf[Long])
      val width = UnsafeRow.calculateBitSetWidthInBytes(df.schema.size) + 8L * df.schema.size
      val session = out.sparkSession.asInstanceOf[classic.SparkSession]
      out.queryExecution.analyzed match {
        case r: LogicalRDD => new classic.Dataset[Row](session,
          r.copy()(session, Some(Statistics(n * width, Some(n))), Some(r.constraints)),
          Encoders.row(df.schema))
        case _ => out
      }
    }
  }

  /** Runs `body` under the job description `desc`, then restores the
    * caller's. */
  private[graft] def described[T](df: DataFrame, desc: String)(body: => T): T = {
    val sc = df.sparkSession.sparkContext
    val caller = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body finally sc.setJobDescription(caller)
  }
}
