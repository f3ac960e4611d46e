package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.types.StructType

/** Content digest of a result: row count, an order-independent sum of row
  * hashes and an order-sensitive polynomial hash. Each row is hashed over
  * its UnsafeRow bytes, so equal digests mean equal rows. */
final case class Digest(rows: Long, sum: Long, poly: Long) {
  def sameAs(o: Digest, ordered: Boolean): Boolean =
    rows == o.rows && sum == o.sum && (!ordered || poly == o.poly)
  def json: Map[String, Any] = Map("rows" -> rows, "sum" -> sum, "poly" -> poly)
}

object Digest {
  private val P = 1099511628211L

  private def pow(b: Long, e: Long): Long = {
    var (r, x, n) = (1L, b, e)
    while (n > 0) { if ((n & 1) == 1) r *= x; x *= x; n >>= 1 }
    r
  }

  def of(df: DataFrame): Digest = collect(df, keep = false)._1

  /** Forces `df` the way graft.Bench does, through its physical plan's RDD
    * (a `count()` would let Catalyst prune the work), folding each row into
    * the digest as it passes; with `keep` the rows come back too, from the
    * same execution, for the output checks. */
  def collect(df: DataFrame, keep: Boolean): (Digest, Array[Row]) = {
    val schema = df.schema
    val parts = df.queryExecution.toRdd.mapPartitionsWithIndex { (i, it) =>
      val proj = UnsafeProjection.create(schema)
      val toRow = CatalystTypeConverters.createToScalaConverter(schema)
      val rows = mutable.ArrayBuffer[Row]()
      var (n, sum, poly) = (0L, 0L, 0L)
      it.foreach { r =>
        val u = proj(r)
        val h = XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
        n += 1; sum += h; poly = poly * P + h
        if (keep) rows += toRow(u).asInstanceOf[Row]
      }
      Iterator((i, n, sum, poly, rows.toArray))
    }.collect().sortBy(_._1)
    val d = parts.foldLeft(Digest(0L, 0L, 0L)) { case (d, (_, n, s, p, _)) =>
      Digest(d.rows + n, d.sum + s, d.poly * pow(P, n) + p)
    }
    (d, parts.flatMap(_._5))
  }
}

/** What one step of a pass needs: named spans around each public call, and
  * the planning phases of the DataFrames it forces. With tracing off the
  * spans are not kept. */
final class Ctx(val spark: SparkSession, spans: Option[Spans], parent: Int,
    val trace: String, phases: mutable.ArrayBuffer[Map[String, Any]],
    kept: Option[(StructType, Array[Row]) => Unit]) {
  def span[T](name: String)(body: Ctx => T): T = spans match {
    case Some(s) => s.record(name, parent, trace)(id =>
      body(new Ctx(spark, spans, id, trace, phases, kept)))
    case None => body(this)
  }
  def call[T](name: String)(body: => T): T = span(name)(_ => body)
  def force(df: DataFrame): Digest = {
    val (d, rows) = call("spark.action")(Digest.collect(df, kept.isDefined))
    kept.foreach(_(df.schema, rows))
    if (spans.isDefined) phases.synchronized {
      phases += LayerListener.phaseRecord(df.queryExecution, s"action:$trace")
    }
    d
  }
}

/** One step of a pass. `op` steps are the closed loop's operations, the
  * unit of op_p50_s and op_tail_s; `ordered` steps must also keep their
  * row order from pass to pass. */
final case class Step(name: String, op: Boolean, ordered: Boolean, body: Ctx => Digest)

/** A workload over generated inputs: the steps of one pass and the checks
  * of its outputs, run once after the timed set-up. */
trait Workload {
  def steps: Seq[Step]
  /** Output checks; `(step name prefix, ok, detail)` each. A failed
    * check fails every operation of the steps it names. */
  def check(run: Runner): Seq[(String, Boolean, String)]
  /** Workload-level quality and size figures. */
  def quality: Map[String, Double] = Map.empty
  /** Untimed warm-up passes. After the first, cold pass the JIT keeps
    * speeding passes up for four or five more (measured on 4 cores); three
    * warm-ups take the timed passes past the steepest part of that curve
    * and keep a run within the benchmark's time budget. */
  def warmups: Int = 3
  /** Per-layer probes run after the timed passes of a traced run. */
  def probes(run: Runner): Unit = ()
  /** The (documents, embeddings) inputs the kernel probes project over. */
  def kernelInputs: (DataFrame, DataFrame)
  /** Anything else the caller needs, such as the oracle SQL to compare. */
  def extra: Map[String, Any] = Map.empty
}

/** Runs passes and records each step's outcome. */
final class Runner(val spans: Spans) {
  var spark: SparkSession = _
  val records = mutable.ArrayBuffer[Map[String, Any]]()
  val counts = mutable.Map[String, Double]()
  val phases = mutable.ArrayBuffer[Map[String, Any]]()
  val expected = mutable.Map[String, Digest]()
  /** Result rows of each step of the warm-up pass, for the output checks. */
  val kept = mutable.Map[String, (StructType, Array[Row])]()

  /** Runs and records one step. A thrown step is a failed one, and so is a
    * step whose output digest differs from the first warm-up pass's (pass
    * -1, whose rows are kept for the output checks). */
  def step(s: Step, pass: Int, traced: Boolean, parent: Int, trace: String): Unit = {
    val sc = spark.sparkContext
    if (traced) sc.setJobGroup(trace, s.name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    val startMs = Clock.ms
    val (ok, err, rows) =
      try {
        val keep = if (pass == -1) Some((schema: StructType, rows: Array[Row]) =>
          kept(s.name) = (schema, rows)) else None
        val ctx = new Ctx(spark, if (traced) Some(spans) else None, parent, trace, phases, keep)
        val d = s.body(ctx)
        val ok = expected.get(s.name) match {
          case Some(e) => e.sameAs(d, s.ordered)
          case None => expected(s.name) = d; true
        }
        (ok, if (ok) null else s"digest ${d.json} differs from first pass", d.rows)
      } catch {
        case e: Throwable => (false, s"${e.getClass.getSimpleName}: ${e.getMessage}", -1L)
      } finally if (traced) sc.clearJobGroup()
    val secs = (System.nanoTime() - t0) / 1e9
    records += Map("pass" -> pass, "traced" -> traced, "step" -> s.name, "op" -> s.op,
      "trace" -> trace, "start_ms" -> startMs, "dur_s" -> secs, "ok" -> ok,
      "error" -> err, "rows" -> rows)
  }

  /** One full pass; returns its wall seconds. */
  def pass(w: Workload, pass: Int, traced: Boolean): Double = {
    val (cpu0, gc0, jit0) = (Runner.cpuS, Runner.gcS, Runner.jitS)
    val t0 = System.nanoTime()
    val body = (id: Int) => w.steps.foreach(s =>
      if (traced) spans.record(s.name, id, s"p$pass.${s.name}")(sid =>
        step(s, pass, traced, sid, s"p$pass.${s.name}"))
      else step(s, pass, traced, -1, s"p$pass.${s.name}"))
    if (traced) spans.record("pass", -1, s"p$pass")(body) else body(-1)
    val secs = (System.nanoTime() - t0) / 1e9
    records += Map("pass" -> pass, "traced" -> traced, "step" -> "__pass__", "dur_s" -> secs,
      "cpu_s" -> (Runner.cpuS - cpu0), "gc_s" -> (Runner.gcS - gc0), "jit_s" -> (Runner.jitS - jit0))
    secs
  }

  /** A traced side measurement outside the passes, under its own trace. */
  def probe(name: String)(body: Ctx => Unit): Unit = {
    val trace = s"probe.$name"
    spark.sparkContext.setJobGroup(trace, name, interruptOnCancel = false)
    try spans.record(name, -1, trace)(id =>
      body(new Ctx(spark, Some(spans), id, trace, phases, None)))
    finally spark.sparkContext.clearJobGroup()
  }
}

object Runner {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._
  /** CPU seconds this JVM has used, all threads. */
  def cpuS: Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => 0.0
  }
  /** Seconds the JIT compilers have spent compiling. */
  def jitS: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
  /** Seconds this JVM has spent in garbage collection. */
  def gcS: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum / 1e3
}
