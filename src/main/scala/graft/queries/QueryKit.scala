package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.api.Frame

/** One registered operator query: the Spark plan and (when the operator is
  * SQL-expressible) the equivalent DuckDB oracle SQL. Column names/aliases
  * must match exactly — the driver sorts columns by name before hashing.
  * `headline = true` marks the BASELINE.md bench shapes run by graft.Bench. */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    sql: Option[String] = None,
    headline: Boolean = false)

object QueryKit {
  import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
  import org.apache.spark.sql.Column

  /** Exact-unit money sum: 2-dp money columns fold to integer CENTS
    * (`floor(x*100 + 0.5)` recovers the exact cent count from the
    * double's ≤1-ulp representation error with PRIMITIVE ops — floor of
    * n±ε+0.5 is n for any integer n, sign included; Spark's round() on
    * doubles allocates a BigDecimal per row and cost q01/q30 2x in the
    * bench), sum as LONG — exact and PERMUTATION-INVARIANT in any
    * partition order — and divide once at the end. The naive
    * `round(sum(double), 2)` is order-sensitive: at sf1 a ~1.5M-element
    * price sum (magnitude ~1e11, ulp ~2e-5, accumulated drift ~cents)
    * crossed a cent boundary between Spark's 32-way partial sums and
    * DuckDB's sequential sum (q30, round 14).
    *
    * LONG, not DECIMAL(18,0): Spark's floor(double) is already LongType,
    * and sum(long) stays in whole-stage-codegen primitive adds, where
    * sum(decimal(18,0)) widens the buffer to decimal(28,0) — past the
    * long-backed fast path, a BigDecimal add + allocation per row that a
    * paired fresh-JVM A/B (AB_BENCH_r14.md) measured at +53% on q30 and
    * +25% on q01. Capacity: per-group Σcents must fit 2^63 — at TPC-H
    * price magnitudes (< 2^24 cents/row) that is ~5·10^11 rows PER GROUP
    * (a 100 TB q01 group is ~10^11), and ANSI mode makes a true overflow
    * a loud SUM_OVERFLOW error, never silent corruption. For the one
    * shape whose per-row units exceed that margin (price × discount
    * basis points), see [[moneyDiscSum]]'s split-sum.
    *
    * Oracle twin: DuckDB sums BIGINT into HUGEINT, so
    * `round(CAST(sum(CAST(floor(x * 100 + 0.5) AS DECIMAL(18,0))) AS
    * DOUBLE) / 100.0, 2)` (or AS BIGINT) is value-identical — both sides
    * compute the same exact integer before one final division. */
  def moneySum(c: Column, out: Int = 2): Column =
    round(sum(floor(c * 100 + 0.5)).cast("double") / 100.0, out)

  /** [[moneySum]] for the TPC-H revenue shape `sum(price * (1 − disc))`:
    * price cents × (100 − discount basis points) is an exact integer
    * (~2^37 max per row) — too wide for a single long sum at 100 TB group
    * sizes (10^11 rows × 10^9 units ≈ 2^67), so it SPLIT-SUMS: two
    * codegen'd long sums over the high bits (`v >> 20`, arithmetic shift
    * = floor division, exact for negatives) and the low bits
    * (`v & 0xFFFFF`, in [0, 2^20) for any sign), recombined ONCE PER
    * GROUP in decimal — exact, permutation-invariant, and good to ~2^43
    * rows per group (the low-word sum is the binding constraint). The
    * per-row path stays in primitive codegen; the only decimal op is the
    * per-group recombine.
    *
    * The exact sum has four decimals, so it is rounded to `out` decimals
    * IN DECIMAL (half away from zero) and converted to double once.
    * Rounding the double quotient instead rounds whichever binary value
    * lies nearest a half-cent tie, and the engines disagree there: on
    * headline seed 55 the exact group sum 269659396.9650 is the double
    * 269659396.96499997…, which DuckDB's round(double) takes to .96 and
    * Spark's decimal-string round to .97; past ~15 significant digits
    * Spark's string form loses the tie as well. Oracle twin:
    * `CAST(round(CAST(sum(floor(p*100+0.5) * (100 - floor(d*100+0.5)))
    * AS DECIMAL(38,0)) * 0.0001, 2) AS DOUBLE)` — DuckDB's DECIMAL sum
    * is exact and its decimal round is half away from zero too. */
  def moneyDiscSum(price: Column, disc: Column, out: Int = 2): Column = {
    val v = floor(price * 100 + 0.5) * (lit(100L) - floor(disc * 100 + 0.5))
    val hi = sum(shiftright(v, 20)).cast("decimal(38,0)")
    val lo = sum(v.bitwiseAND(lit((1L << 20) - 1))).cast("decimal(38,0)")
    round((hi * lit(1L << 20) + lo) * lit(new java.math.BigDecimal("0.0001")), out)
      .cast("double")
  }

  /** events.ts has shipped as parquet TIMESTAMP(NANOS) (which Spark's
    * vectorized reader rejects — readable only as raw long via the legacy
    * knob) and, in newer fixture drops, as plain TIMESTAMP(MICROS). Accept
    * either physical layout and normalize to a microsecond TIMESTAMP_NTZ:
    * every downstream query sees one dtype regardless of the writer.
    *
    * A LONG column no longer assumes nanos (the r8 fixture drop switched
    * units and crashed 45 time queries out of the gate): one sample row
    * decides the epoch unit by magnitude — 2020s instants are ~1.7e18 in
    * ns, ~1.7e15 in µs, ~1.7e12 in ms, ~1.7e9 in s, four orders apart,
    * so the thresholds are unambiguous for any plausible fixture. Nanos
    * convert with integer division (they overflow double precision, so
    * never `/ 1000.0`). */
  def normalizeTs(df: DataFrame): DataFrame = normalizeTemporal(df)

  /** Column names whose values are instants even when the fixture ships them
    * as raw longs. Other long columns (keys, counts) are never touched. */
  private val TemporalLongNames = Set("ts", "o_orderdate", "l_shipdate")

  /** Normalize every temporal column — whatever physical layout the fixture
    * drop chose — to a microsecond TIMESTAMP_NTZ, so the whole query surface
    * sees one dtype across regenerations. Handled layouts, per column:
    * TIMESTAMP(MICROS/MILLIS) (reads as TimestampType or TimestampNTZType),
    * DATE32, and — for the known instant columns — raw INT64 in any epoch
    * unit, disambiguated by magnitude from one sampled row (2020s instants
    * are ~1.7e18 ns / 1.7e15 µs / 1.7e12 ms / 1.7e9 s — four orders apart,
    * unambiguous for any plausible fixture). Nanos convert with integer
    * division: they overflow double precision, so never `/ 1000.0`. */
  def normalizeTemporal(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{DateType, IntegerType, StringType}
    val intsToFix = df.schema.fields
      .filter(f => (f.dataType == LongType || f.dataType == IntegerType) &&
        TemporalLongNames(f.name)).map(_.name)
    // one sampled row decides each column's unit — a head(1), not a scan;
    // int columns sample through the same path so every instant column
    // gets ONE unit, never a per-row split
    val sampled: Map[String, Long] =
      if (intsToFix.isEmpty) Map.empty
      else df.select(intsToFix.map(c => col(c).cast("long").as(c)): _*)
        .filter(intsToFix.map(col(_).isNotNull).reduce(_ && _)).head(1)
        .headOption.map(r => intsToFix.map(c => c ->
          math.abs(r.getLong(r.fieldIndex(c)))).toMap).getOrElse(Map.empty)
    df.schema.fields.foldLeft(df) { (acc, f) =>
      f.dataType match {
        case LongType if sampled.contains(f.name) =>
          val sample = sampled(f.name)
          // blind spot, documented: the days fallback (sample < 1e8)
          // swallows genuine epoch-SECONDS instants before ~1973-03 (and
          // any pre-epoch negative seconds). Every fixture drop so far is
          // 2020s data (~1.7e9 s), four orders above the boundary; a
          // pre-1973 fixture would need an explicit unit hint here.
          val micros =
            if (sample >= 100000000000000000L) expr(s"`${f.name}` DIV 1000") // nanos
            else if (sample >= 100000000000000L) col(f.name)                 // micros
            else if (sample >= 100000000000L) col(f.name) * 1000L            // millis
            else if (sample >= 100000000L) col(f.name) * 1000000L            // seconds
            else col(f.name) * 86400000000L                                  // epoch days
          acc.withColumn(f.name, timestamp_micros(micros.cast("long")).cast("timestamp_ntz"))
        case IntegerType if sampled.contains(f.name) =>
          // int32 instant can only plausibly be epoch days (date32 read
          // as raw int) or epoch seconds — same magnitude split as longs,
          // decided once per column from the sampled row
          val unit = if (sampled(f.name) >= 100000000L) 1000000L else 86400000000L
          acc.withColumn(f.name, timestamp_micros((col(f.name).cast("long") *
            lit(unit)).cast("long")).cast("timestamp_ntz"))
        case StringType if TemporalLongNames(f.name) =>
          // ISO text drop: default to_timestamp patterns cover
          // yyyy-MM-dd[ HH:mm:ss[.SSSSSS]] and the 'T' separator
          acc.withColumn(f.name, to_timestamp(col(f.name)).cast("timestamp_ntz"))
        case TimestampType => acc.withColumn(f.name, col(f.name).cast("timestamp_ntz"))
        case DateType => acc.withColumn(f.name, col(f.name).cast("timestamp_ntz"))
        case _ => acc
      }
    }
  }

  /** Per-fixture scratch path: `<base>/<sanitized fixture dir>/<name>`, so
    * two concurrent runs against different fixture dirs (e.g. the sf0.01
    * gate and an sf0.1 self-run) never clobber each other's staged files
    * or persisted indexes mid-query. */
  def scratch(base: String, fixtureDir: String, name: String): String =
    s"$base/${fixtureDir.replaceAll("[^A-Za-z0-9._-]", "_")}/$name"

  /** Per-JVM memo of inferred parquet schemas, keyed on path + a listing
    * fingerprint (so an overwritten path re-infers). `spark.read.parquet`
    * without an explicit schema schedules a footer-inference JOB on every
    * call — ProfileBench (r15) measured it at 26–41 ms per table read, once
    * or twice per bench query run. A real deployment reads the schema from
    * a catalog/manifest once, not from file footers per query; this memo
    * is that catalog. It caches METADATA only — every query still scans
    * and computes from the parquet data itself.
    *
    * The fingerprint comes from the path's Hadoop `FileSystem`, so it
    * holds on any store Spark can read (a directory's own mtime does not:
    * `java.io.File` sees 0 for hdfs:// or s3:// URIs, and a rewrite in
    * place need not move it). */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  /** File count, total length and max modification time of the visible
    * data files under `path` (names starting with `_` or `.` — Spark's
    * hidden files, e.g. `_SUCCESS`, `.crc`, `_temporary/` — are skipped,
    * at any depth). A missing path gets its own key; the read that follows
    * raises Spark's own not-found error. Plain `listStatus`, not
    * `listFiles`: a located status copies owner and permissions, which
    * the local file system reads by forking a process per file. */
  private def listingKey(s: SparkSession, path: String): String = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    val root = new Path(path)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    def files(p: Path): Seq[FileStatus] = fs.listStatus(p).toSeq
      .filterNot(f => f.getPath.getName.startsWith("_") || f.getPath.getName.startsWith("."))
      .flatMap(f => if (f.isDirectory) files(f.getPath) else Seq(f))
    try {
      val found = files(root)
      s"${found.size}/${found.map(_.getLen).sum}/" +
        found.map(_.getModificationTime).maxOption.getOrElse(0L)
    } catch { case _: java.io.FileNotFoundException => "missing" }
  }

  def t(s: SparkSession, dir: String, name: String): DataFrame = {
    // TIMESTAMP(NANOS) parquet is unreadable by Spark's vectorized reader
    // without this knob (it then surfaces as raw long); harmless for
    // micros/date layouts.
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/$name.parquet"
    val key = s"$path@${listingKey(s, path)}"
    val schema = schemaCache.computeIfAbsent(key, _ => s.read.parquet(path).schema)
    normalizeTemporal(s.read.schema(schema).parquet(path))
  }

  def f(s: SparkSession, dir: String, name: String): Frame = Frame(t(s, dir, name))

  /** Signed-zero-canonical round for float-final columns. A tiny negative
    * value (centered covariance, corr, ewm var, …) rounds to zero with the
    * SIGN of the input preserved — and the two engines don't agree on it
    * (q248: DuckDB kept -0.0 where Spark emitted +0.0; equal under ==,
    * different under the driver's bitwise hash). `+ 0.0` is the IEEE-754
    * canonicalization: -0.0 + 0.0 = +0.0 in every engine, and it is the
    * identity on every other value (incl. NaN/±inf). Oracle SQL must
    * mirror it literally: `round(x, n) + 0.0`. */
  def roundz(c: org.apache.spark.sql.Column, scale: Int): org.apache.spark.sql.Column =
    round(c, scale) + lit(0.0)

  /** Table scan rebalanced across the cluster before CPU-bound map work:
    * range-partition + in-partition sort on `key`. Test-fixture parquet
    * is a single small file (one row group — unsplittable, so the scan is
    * ONE task no matter the config), while per-row token analytics cost
    * far more CPU than the bytes suggest; the (tiny) shuffle buys
    * full-core parallelism, and at real scale the same rebalance evens
    * out skewed file sizes ahead of heavy per-row stages. Pre-sorting
    * here means a deterministic-output query needs NO trailing orderBy —
    * RangePartitioning and ordering survive narrow projections — where a
    * trailing orderBy's range exchange would sample and re-run the whole
    * heavy stage. Explicit partition count keeps AQE from byte-coalescing
    * the CPU-dense shuffle back to one task. */
  def tSplitSorted(s: SparkSession, dir: String, name: String, key: String): DataFrame =
    t(s, dir, name)
      .repartitionByRange(s.sparkContext.defaultParallelism, col(key))
      .sortWithinPartitions(key)
}
