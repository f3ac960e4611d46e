package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The measurement harness every bench, verify and tool main shares: one
  * session shape, one forcing step, one timed-run statistic and one JSON
  * emitter, so each of those decisions is made in exactly one place. */
object BenchKit {

  /** Fixture dir the bench mains read. */
  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** Cores of the local session: `SPARK_GRAFT_CPUS`, else every available
    * processor. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def session(cores: Int = cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // v2 commit: tasks rename directly into the destination instead of
      // the job-commit serial rename pass — one directory walk less per
      // write, and the right default for object stores at scale
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      // older events fixtures ship ts as TIMESTAMP(NANOS); the knob lets
      // those read as raw long so QueryKit's normalizer can convert them
      // (newer micros fixtures ignore it)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Materializes the physical plan's RDD — NOT `.count()`, which would let
    * Catalyst prune every column and skip the real work of
    * projection-shaped queries. */
  def force(df: DataFrame): Unit = df.queryExecution.toRdd.foreach(_ => ())

  /** Wall seconds of one run of `job`. A run that throws is logged as
    * `<label> failed: <message>` and times +∞, so it never wins a min. */
  def time(label: String)(job: => Unit): Double = {
    val t0 = System.nanoTime()
    try { job; (System.nanoTime() - t0) / 1e9 }
    catch {
      case e: Throwable =>
        System.err.println(s"$label failed: ${e.getMessage}")
        Double.PositiveInfinity
    }
  }

  def timed(runs: Int, label: String)(job: => Unit): Seq[Double] =
    (1 to runs).map(_ => time(label)(job))

  /** Min, median and spread (p75 − p25) of the finite runs. */
  final case class Stats(min: Double, median: Double, spread: Double)

  /** None when every run failed. */
  def stats(times: Seq[Double]): Option[Stats] = {
    val ok = times.filterNot(_.isInfinite).sorted
    def pct(p: Double) = ok(math.min(ok.size - 1, (p * ok.size).toInt))
    if (ok.isEmpty) None else Some(Stats(ok.head, pct(0.5), pct(0.75) - pct(0.25)))
  }

  /** A JSON object with its keys in the given order. */
  final case class Obj(fields: (String, Any)*)

  /** Renders strings, numbers, booleans, [[Obj]]s and sequences as JSON.
    * Doubles print with 3 decimals; JSON has no ±∞/NaN, so those print as
    * `null`. */
  def json(v: Any): String = v match {
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else f"$d%.3f"
    case _: Int | _: Long | _: Boolean => v.toString
    case Obj(fields @ _*) =>
      fields.map { case (k, x) => s"${quote(k)}:${json(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => throw new IllegalArgumentException(s"no JSON form for $other")
  }

  /** JSON string literal: backslash, quote and ALL control chars (< 0x20)
    * escaped — a tab or CR in builder-authored SQL would otherwise make
    * the driver's json.load fail and silently zero the correctness gate. */
  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
