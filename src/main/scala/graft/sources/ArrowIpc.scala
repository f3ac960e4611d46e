package graft.sources

import java.io.{File, FileInputStream, FileOutputStream}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.{BigIntVector, BitVector, DateDayVector, Float4Vector, Float8Vector, IntVector, TimeStampMicroTZVector, TimeStampMicroVector, VarCharVector, VectorSchemaRoot}
import org.apache.arrow.vector.ipc.{ArrowFileReader, ArrowFileWriter}
import org.apache.arrow.vector.types.{DateUnit, FloatingPointPrecision, TimeUnit}
import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema => ArrowSchema}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/**
 * Arrow IPC (Feather v2) file source — the engine's `from_arrow`
 * (reference: `modin.pandas.io.from_arrow`,
 * modin/pandas/dataframe/dataframe.py:4623 interchange surface). The
 * reference ingests an in-memory `pyarrow.Table`; the JVM-side analog is
 * the Arrow IPC file, read with the arrow-vector runtime Spark already
 * ships. A directory of IPC files reads like every file source
 * ([[FileSet]]); each task streams its file's record batches. Supported
 * types: int32/int64, float32/float64, utf8, bool, date32 and
 * timestamp[us] — the interchange-protocol core.
 */
object ArrowIpc {

  private def toSparkType(f: Field): DataType = f.getType match {
    case t: ArrowType.Int if t.getBitWidth == 64 => LongType
    case _: ArrowType.Int => IntegerType
    case t: ArrowType.FloatingPoint =>
      if (t.getPrecision == FloatingPointPrecision.SINGLE) FloatType else DoubleType
    case _: ArrowType.Utf8 => StringType
    case _: ArrowType.Bool => BooleanType
    case t: ArrowType.Date if t.getUnit == DateUnit.DAY => DateType
    case t: ArrowType.Timestamp if t.getUnit == TimeUnit.MICROSECOND =>
      // Arrow semantics: a timezone marks an instant, its absence a
      // wall-clock time — exactly Spark's TIMESTAMP vs TIMESTAMP_NTZ
      if (t.getTimezone == null) TimestampNTZType else TimestampType
    case other => throw new UnsupportedOperationException(
      s"arrow type ${other} not supported by ArrowIpc " +
        "(int/float/utf8/bool/date32/timestamp[us] are)")
  }

  private def readSchema(path: String): StructType = {
    val alloc = new RootAllocator()
    val ch = new FileInputStream(path).getChannel
    val reader = new ArrowFileReader(ch, alloc)
    try {
      val fields = reader.getVectorSchemaRoot.getSchema.getFields
      StructType((0 until fields.size()).map { i =>
        val f = fields.get(i)
        StructField(f.getName, toSparkType(f), f.isNullable)
      })
    } finally { reader.close(); ch.close(); alloc.close() }
  }

  /** Read one Arrow IPC file or a directory of them ([[FileSet]]). */
  def read(spark: SparkSession, path: String): DataFrame =
    FileSet.read(spark, path, Seq(".arrow"), readSchema, rowsOf)

  /** One file's rows, streamed one record batch at a time: only the
    * current batch's rows are materialized, so task memory is bounded by
    * the batch size, not the file size. */
  private def rowsOf(p: String): Iterator[Row] = {
    val alloc = new RootAllocator()
    val ch = new FileInputStream(p).getChannel
    val reader = new ArrowFileReader(ch, alloc)
    var closed = false
    def closeAll(): Unit = if (!closed) {
      closed = true; reader.close(); ch.close(); alloc.close()
    }
    // partial consumption (limit/take, task failure) must still release
    // the channel and the allocator's direct memory — exhaustion alone
    // is not guaranteed to be reached
    Option(org.apache.spark.TaskContext.get())
      .foreach(_.addTaskCompletionListener[Unit](_ => closeAll()))
    new Iterator[Row] {
      private val root = reader.getVectorSchemaRoot
      private var batch = ArrayBuffer.empty[Row]
      private var pos = 0
      private var open = true
      private def loadBatch(): Unit = {
        batch.clear(); pos = 0
        // loop past zero-row record batches (legal in IPC files) —
        // treating the first empty batch as EOF would silently drop
        // every batch after it
        var more = true
        while (batch.isEmpty && more) {
          more = reader.loadNextBatch()
          if (more) {
            val vectors = root.getFieldVectors
            var i = 0
            while (i < root.getRowCount) {
              val vals = new Array[Any](vectors.size())
              var j = 0
              while (j < vectors.size()) {
                val v = vectors.get(j)
                vals(j) =
                  if (v.isNull(i)) null
                  else v.getObject(i) match {
                    case t: org.apache.arrow.vector.util.Text => t.toString
                    // arrow-java API drift: DateDay getObject has returned
                    // both raw day counts and LocalDate across versions
                    case d: java.lang.Integer if v.isInstanceOf[DateDayVector] =>
                      java.time.LocalDate.ofEpochDay(d.longValue())
                    case m: java.lang.Long if v.isInstanceOf[TimeStampMicroTZVector] =>
                      java.time.Instant.ofEpochSecond(
                        Math.floorDiv(m, 1000000L), Math.floorMod(m, 1000000L) * 1000L)
                    case x => x // LocalDate / LocalDateTime pass through
                  }
                j += 1
              }
              batch += Row.fromSeq(vals.toIndexedSeq)
              i += 1
            }
          }
        }
        if (batch.isEmpty && open) { open = false; closeAll() }
      }
      override def hasNext: Boolean = {
        if (pos >= batch.length && open) loadBatch()
        pos < batch.length
      }
      override def next(): Row = {
        if (!hasNext) throw new NoSuchElementException
        val r = batch(pos); pos += 1; r
      }
    }
  }

  /** read_feather: Feather v2 IS the Arrow IPC file format (one frame,
    * same footer), so the reader applies unchanged (reference:
    * modin/core/io/io.py read_feather → pyarrow.feather, which likewise
    * delegates to the IPC reader for v2). Feather v1 — the pre-Arrow-1.0
    * legacy format — is not supported. */
  def readFeather(spark: SparkSession, path: String): DataFrame = read(spark, path)

  /** to_feather: uncompressed Feather v2 = Arrow IPC file. */
  def writeFeather(df: DataFrame, path: String, batchRows: Int = 4096): Unit =
    write(df, path, batchRows)

  private def toArrowField(f: StructField): Field = {
    val t: ArrowType = f.dataType match {
      case LongType    => new ArrowType.Int(64, true)
      case IntegerType => new ArrowType.Int(32, true)
      case DoubleType  => new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE)
      case FloatType   => new ArrowType.FloatingPoint(FloatingPointPrecision.SINGLE)
      case StringType  => ArrowType.Utf8.INSTANCE
      case BooleanType => ArrowType.Bool.INSTANCE
      case DateType    => new ArrowType.Date(DateUnit.DAY)
      case TimestampType    => new ArrowType.Timestamp(TimeUnit.MICROSECOND, "UTC")
      case TimestampNTZType => new ArrowType.Timestamp(TimeUnit.MICROSECOND, null)
      case other => throw new UnsupportedOperationException(
        s"spark type ${other.simpleString} not supported by ArrowIpc.write " +
          "(bigint/int/double/float/string/boolean/date/timestamp are)")
    }
    new Field(f.name, new FieldType(f.nullable, t, null), java.util.Collections.emptyList())
  }

  /**
   * Write a DataFrame as a directory of Arrow IPC files — the engine's
   * `to_arrow` / interchange-protocol export (reference:
   * modin/core/dataframe/pandas/interchange/, base dataframe `__dataframe__`
   * surface). One file per partition, written task-side, so export
   * parallelism equals the frame's partitioning — `coalesce` first to
   * bound the file count. Batches of `batchRows` rows bound task memory
   * the same way the reader's batch streaming does. The path must be on a
   * filesystem every executor can reach (local mode / NFS); same contract
   * as the reader.
   */
  def write(df: DataFrame, path: String, batchRows: Int = 4096): Unit = {
    val sparkSchema = df.schema
    sparkSchema.foreach(toArrowField) // validate on the driver, not per task
    val dir = new File(path)
    require(dir.isDirectory || dir.mkdirs(), s"cannot create directory $path")
    // overwrite semantics: stale part files from a previous (wider) write
    // would otherwise silently union into a later read
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".arrow")).foreach(_.delete())
    df.rdd.foreachPartition { rows =>
      val part = org.apache.spark.TaskContext.getPartitionId()
      val arrowSchema = new ArrowSchema(sparkSchema.map(toArrowField).asJava)
      val alloc = new RootAllocator()
      val root = VectorSchemaRoot.create(arrowSchema, alloc)
      val out = new FileOutputStream(new File(dir, f"part-$part%05d.arrow"))
      val writer = new ArrowFileWriter(root, null, out.getChannel)
      try {
        writer.start()
        val vectors = root.getFieldVectors
        var n = 0
        def flush(): Unit = if (n > 0) {
          root.setRowCount(n); writer.writeBatch(); root.allocateNew(); n = 0
        }
        rows.foreach { row =>
          var j = 0
          while (j < sparkSchema.length) {
            val v = vectors.get(j)
            if (row.isNullAt(j)) {
              // setNull per concrete vector type — setSafe(null) is not a thing
              v match {
                case x: BigIntVector  => x.setNull(n)
                case x: IntVector     => x.setNull(n)
                case x: Float8Vector  => x.setNull(n)
                case x: Float4Vector  => x.setNull(n)
                case x: VarCharVector => x.setNull(n)
                case x: BitVector     => x.setNull(n)
                case x: DateDayVector => x.setNull(n)
                case x: TimeStampMicroTZVector => x.setNull(n)
                case x: TimeStampMicroVector   => x.setNull(n)
              }
            } else v match {
              case x: BigIntVector  => x.setSafe(n, row.getLong(j))
              case x: IntVector     => x.setSafe(n, row.getInt(j))
              case x: Float8Vector  => x.setSafe(n, row.getDouble(j))
              case x: Float4Vector  => x.setSafe(n, row.getFloat(j))
              case x: VarCharVector => x.setSafe(n, row.getString(j).getBytes("UTF-8"))
              case x: BitVector     => x.setSafe(n, if (row.getBoolean(j)) 1 else 0)
              case x: DateDayVector =>
                // rows carry java.sql.Date or LocalDate depending on the
                // session's java8API flag — accept both
                val days = row.get(j) match {
                  case d: java.sql.Date => d.toLocalDate.toEpochDay
                  case d: java.time.LocalDate => d.toEpochDay
                }
                x.setSafe(n, days.toInt)
              case x: TimeStampMicroTZVector =>
                val inst = row.get(j) match {
                  case t: java.sql.Timestamp => t.toInstant
                  case t: java.time.Instant => t
                }
                x.setSafe(n, inst.getEpochSecond * 1000000L + inst.getNano / 1000L)
              case x: TimeStampMicroVector =>
                val ldt = row.get(j).asInstanceOf[java.time.LocalDateTime]
                x.setSafe(n, ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
                  ldt.getNano / 1000L)
            }
            j += 1
          }
          n += 1
          if (n >= batchRows) flush()
        }
        flush()
        writer.end()
      } finally { writer.close(); out.close(); root.close(); alloc.close() }
    }
  }
}
