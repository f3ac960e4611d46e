package graft.sources

import java.io.File

import org.apache.spark.SparkException
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/**
 * The one path from a file or a directory of files to a frame, shared by
 * every file source (the reference likewise sends read_excel, read_html,
 * read_stata, read_sas and read_spss through one path,
 * modin/core/io/io.py:218-410). The contract:
 *
 *  - Listing: a directory reads its files whose names end in one of the
 *    format's extensions, sorted by name, so a stray `_SUCCESS` or `.crc`
 *    does not fail the scan; any other path is one file. An empty listing
 *    fails with `no .<ext> files under <path>`.
 *  - Schema: one task per file runs the format's `schemaOf`. A file with
 *    a duplicate column name fails the read, since alignment by name
 *    cannot tell the two apart. The schemas merge by name, pandas-concat
 *    style: a shared name widens on [[widen]], a name unique to one file
 *    appends and reads null for the others, and every merged column is
 *    nullable. A lone file keeps its own schema.
 *  - Rows: one task, and so one partition, per file. Each task streams
 *    the format's `rowsOf` (values in the file's own column order), picks
 *    every merged column by name and maps each non-null value onto the
 *    merged type with `convert`.
 *
 * A parser's rejection in the schema pass (a malformed file, a missing
 * sheet) reaches the caller as the parser's own exception, not wrapped in
 * Spark's job abort.
 */
private[sources] object FileSet {

  private val NumericRank =
    Seq[DataType](ByteType, ShortType, IntegerType, LongType, FloatType, DoubleType)

  /** Equal types keep; two numeric types widen to the wider by rank
    * (byte < short < int < long < float < double); anything else is a
    * string. */
  private def widen(x: DataType, y: DataType): DataType = (x, y) match {
    case (s, t) if s == t => s
    case (a: NumericType, b: NumericType) =>
      NumericRank(math.max(NumericRank.indexOf(a), NumericRank.indexOf(b)))
    case _ => StringType
  }

  /** The default `convert`: a number widens to the merged numeric type,
    * any value merged into a string column reads as its string form. */
  def widened(v: Any, dt: DataType): Any = (v, dt) match {
    case (x, StringType) => x.toString
    case (x: java.lang.Number, ShortType) => x.shortValue
    case (x: java.lang.Number, IntegerType) => x.intValue
    case (x: java.lang.Number, LongType) => x.longValue
    case (x: java.lang.Number, FloatType) => x.floatValue
    case (x: java.lang.Number, DoubleType) => x.doubleValue
    case (x, _) => x
  }

  private def merge(a: StructType, b: StructType): StructType = {
    val bByName = b.fields.map(f => f.name -> f).toMap
    val shared = a.fields.map { fa =>
      val t = bByName.get(fa.name).fold(fa.dataType)(fb => widen(fa.dataType, fb.dataType))
      StructField(fa.name, t, nullable = true)
    }
    val aNames = a.fieldNames.toSet
    StructType(shared ++ b.fields.filterNot(f => aNames(f.name)).map(_.copy(nullable = true)))
  }

  def read(spark: SparkSession, path: String, extensions: Seq[String],
      schemaOf: String => StructType, rowsOf: String => Iterator[Row],
      convert: (Any, DataType) => Any = widened): DataFrame = {
    val dir = new File(path)
    val files =
      if (dir.isDirectory)
        dir.listFiles().filter(f => f.isFile && extensions.exists(f.getName.endsWith))
          .map(_.getAbsolutePath).sorted.toSeq
      else Seq(path)
    require(files.nonEmpty, s"no ${extensions.head} files under $path")
    val sc = spark.sparkContext
    val own =
      try sc.parallelize(files, files.size).map(schemaOf).collect().toSeq
      catch { case e: SparkException if e.getCause != null => throw e.getCause }
    files.zip(own).foreach { case (p, s) =>
      val dup = s.fieldNames.groupBy(identity).collect { case (n, xs) if xs.size > 1 => n }
      require(dup.isEmpty,
        s"duplicate column name(s) ${dup.mkString(", ")} in $p — cannot align multi-file read by name")
    }
    val schema = own.reduce(merge)
    val names = schema.fieldNames
    val types = schema.fields.map(_.dataType)
    val rdd = sc.parallelize(files.zip(own), files.size).flatMap { case (p, fileSchema) =>
      val at = names.map(fileSchema.fieldNames.indexOf(_)) // -1: this file lacks it
      rowsOf(p).map { r =>
        Row.fromSeq(names.indices.map { i =>
          val v = if (at(i) < 0) null else r.get(at(i))
          if (v == null) null else convert(v, types(i))
        })
      }
    }
    spark.createDataFrame(rdd, schema)
  }

  /** The single-file writers' driver collect: one evaluation of the frame
    * reads at most `maxRows + 1` rows, so the cap is checked on the rows
    * the writer gets. */
  def collectCapped(df: DataFrame, maxRows: Int, what: String): Array[Row] = {
    val rows = df.limit((maxRows.toLong + 1).min(Int.MaxValue).toInt).collect()
    require(rows.length <= maxRows,
      s"$what (over its cap $maxRows rows); write parquet/csv for frames this size")
    rows
  }
}
