package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with nanosecond resolution, so the
  * harness's spans line up with the listener's (millisecond) event times. */
object Clock {
  private val epochMs = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def ms: Double = epochMs + (System.nanoTime() - nano0) / 1e6
}

/** One timed interval. `parent` is the id of the span that caused it (-1 at
  * a root); spans of one operation share `trace`, which is also the Spark
  * job group its jobs run under. */
final case class Span(id: Int, parent: Int, trace: String, name: String,
    startMs: Double, endMs: Double) {
  def json: Map[String, Any] = Map("id" -> id, "parent" -> parent, "trace" -> trace,
    "name" -> name, "start_ms" -> startMs, "end_ms" -> endMs)
}

/** Spans kept in memory until the run ends. */
final class Spans {
  private val buf = mutable.ArrayBuffer[Span]()
  private var next = 0

  def record[T](name: String, parent: Int, trace: String)(body: Int => T): T = {
    val id = synchronized { next += 1; next }
    val t0 = Clock.ms
    try body(id)
    finally synchronized { buf += Span(id, parent, trace, name, t0, Clock.ms) }
  }
  def all: Seq[Span] = synchronized(buf.toList)
}

/** Job, stage and task records from Spark's listener bus, plus the
  * planning phases of every QueryExecution an action ran. Registered only
  * for traced passes; everything is read back after [[drain]]. */
final class LayerListener extends SparkListener with QueryExecutionListener {
  final class StageAcc {
    var submitMs, completeMs = -1L
    var tasks, runMs, cpuNs, gcMs = 0L
    var shuffleWrite, shuffleRead, spillDisk, peakExecMem = 0L
    var inBytes, inRecords, outBytes, outRecords = 0L
  }
  private val jobs = mutable.Map[Int, mutable.Map[String, Any]]()
  private val stages = mutable.Map[(Int, Int), StageAcc]()
  private val phases = mutable.ArrayBuffer[Map[String, Any]]()

  private def stage(id: Int, attempt: Int) = stages.getOrElseUpdate((id, attempt), new StageAcc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs(e.jobId) = mutable.Map("job_id" -> e.jobId, "group" -> group.orNull,
      "start_ms" -> e.time, "end_ms" -> -1L, "stage_ids" -> e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_("end_ms") = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val s = stage(e.stageId, e.stageAttemptId)
    s.tasks += 1
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spillDisk += m.diskBytesSpilled
      s.peakExecMem = math.max(s.peakExecMem, m.peakExecutionMemory)
      s.inBytes += m.inputMetrics.bytesRead
      s.inRecords += m.inputMetrics.recordsRead
      s.outBytes += m.outputMetrics.bytesWritten
      s.outRecords += m.outputMetrics.recordsWritten
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val s = stage(i.stageId, i.attemptNumber())
    s.submitMs = i.submissionTime.getOrElse(-1L)
    s.completeMs = i.completionTime.getOrElse(-1L)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { phases += LayerListener.phaseRecord(qe, funcName) }
  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    synchronized { phases += LayerListener.phaseRecord(qe, funcName) }

  /** Events reach listeners asynchronously. A marker job is posted after
    * every earlier event, so once its end is seen, all earlier ones are. */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    sc.setJobGroup("__drain__", "drain", interruptOnCancel = false)
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    val deadline = System.nanoTime() + 20e9.toLong
    def seen = synchronized(jobs.values.exists(j =>
      j("group") == "__drain__" && j("end_ms").asInstanceOf[Long] >= 0))
    while (!seen && System.nanoTime() < deadline) Thread.sleep(20)
    Thread.sleep(200) // the QueryExecution listeners sit on a queue of their own
  }

  def json: Map[String, Any] = synchronized {
    Map(
      "jobs" -> jobs.values.toList.sortBy(_("job_id").asInstanceOf[Int]).map(_.toMap),
      "stages" -> stages.toList.sortBy(_._1).map { case ((id, att), s) =>
        Map("stage_id" -> id, "attempt" -> att, "submit_ms" -> s.submitMs,
          "complete_ms" -> s.completeMs, "tasks" -> s.tasks, "run_ms" -> s.runMs,
          "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs, "shuffle_write" -> s.shuffleWrite,
          "shuffle_read" -> s.shuffleRead, "spill_disk" -> s.spillDisk,
          "peak_exec_mem" -> s.peakExecMem, "in_bytes" -> s.inBytes,
          "in_records" -> s.inRecords, "out_bytes" -> s.outBytes,
          "out_records" -> s.outRecords)
      },
      "phases" -> phases.toList)
  }
}

object LayerListener {
  /** Catalyst phase intervals of one QueryExecution, from its public
    * planning tracker. */
  def phaseRecord(qe: QueryExecution, source: String): Map[String, Any] = Map(
    "source" -> source,
    "phases" -> qe.tracker.phases.map { case (k, p) =>
      k -> Map("start_ms" -> p.startTimeMs, "end_ms" -> p.endTimeMs)
    })
}

/** Minimal JSON writer for the maps, sequences and scalars the harness
  * emits. Non-finite doubles become null. */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case xs: Array[_] => write(xs.toSeq)
    case other => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
