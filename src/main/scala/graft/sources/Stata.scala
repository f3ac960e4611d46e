package graft.sources

import java.io.FileOutputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/**
 * Stata .dta source/sink — the engine's `read_stata` / `to_stata`
 * (reference: modin/core/io/io.py:218-410, executed single-node via
 * default_to_pandas). Implements dataset format 113–115 (the fully
 * binary layout pandas `to_stata` emits by default as version=114) with
 * JDK-only byte parsing: header → typlist → varlist → skip the
 * sort/format/label tables → expansion fields → row-major data.
 * Directory input parallelizes one task per file with the by-name schema
 * merge every file source shares ([[FileSet]]) — the many-files axis is
 * where a cluster read scales; one .dta is a bounded single-machine
 * artifact by format (Stata caps at 32767 vars, pandas writes one file).
 *
 * Type fidelity follows pandas: st_byte/int/long → ByteType/ShortType/
 * IntegerType, st_float/double → FloatType/DoubleType, strN →
 * StringType (trailing NULs trimmed; empty string stays "", matching
 * pandas — Stata has no string missing). Numeric missing values (".",
 * ".a"… — any code at or above each type's missing threshold) read as
 * null. Not supported (documented o-o-s): format 117/118 (the XML-ish
 * container with strLs), value-label decoding, and %d date formats —
 * the fixture-facing subset pandas writes for plain frames is complete.
 */
object Stata {

  // Stata missing-value thresholds (inclusive), per the dta spec.
  private val MissByte: Byte = 101
  private val MissShort: Short = 32741
  private val MissInt: Int = 2147483621
  private val MissFloat: Float = java.lang.Float.intBitsToFloat(0x7f000000)
  private val MissDouble: Double = java.lang.Double.longBitsToDouble(0x7fe0000000000000L)

  private def cstr(b: Array[Byte]): String = {
    val n = b.indexOf(0.toByte)
    new String(b, 0, if (n < 0) b.length else n, StandardCharsets.UTF_8)
  }

  /** Parse one .dta (format 113/114/115) into (schema, rows). */
  private def parse(path: String): (StructType, Seq[Row]) = {
    val bytes = Files.readAllBytes(Paths.get(path))
    val fmt = bytes(0) & 0xff
    require(fmt >= 113 && fmt <= 115,
      s"unsupported .dta format $fmt in $path (113-115 supported; 117/118 strL container is o-o-s)")
    val order = if ((bytes(1) & 0xff) == 2) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN
    val buf = ByteBuffer.wrap(bytes).order(order)
    buf.position(4)
    val nvar = buf.getShort.toInt
    val nobs = buf.getInt
    buf.position(buf.position() + 81 + 18) // data_label + time_stamp
    val types = Array.fill(nvar)(buf.get() & 0xff)
    val names = Array.fill(nvar) {
      val b = new Array[Byte](33); buf.get(b); cstr(b)
    }
    buf.position(buf.position() + (nvar + 1) * 2) // srtlist
    // fmtlist entry width grew 12 → 49 bytes at format 114
    buf.position(buf.position() + nvar * (if (fmt >= 114) 49 else 12))
    buf.position(buf.position() + nvar * 33)      // lbllist
    buf.position(buf.position() + nvar * 81)      // variable labels
    // expansion fields: {byte dtype, int32 len, payload} until (0, 0)
    var done = false
    while (!done) {
      val dt = buf.get()
      val len = buf.getInt
      if (dt == 0 && len == 0) done = true else buf.position(buf.position() + len)
    }
    val fields = names.zip(types).map { case (n, t) =>
      StructField(n, t match {
        case 251 => ByteType
        case 252 => ShortType
        case 253 => IntegerType
        case 254 => FloatType
        case 255 => DoubleType
        case w if w >= 1 && w <= 244 => StringType
        case other => sys.error(s"unsupported .dta type code $other in $path")
      }, nullable = true)
    }
    val rows = (0 until nobs).map { _ =>
      Row.fromSeq(types.map {
        case 251 => val v = buf.get(); if (v >= MissByte) null else v
        case 252 => val v = buf.getShort; if (v >= MissShort) null else v
        case 253 => val v = buf.getInt; if (v >= MissInt) null else v
        case 254 => val v = buf.getFloat; if (v.isNaN || v >= MissFloat) null else v
        case 255 => val v = buf.getDouble; if (v.isNaN || v >= MissDouble) null else v
        case w => val b = new Array[Byte](w); buf.get(b); cstr(b)
      }.toIndexedSeq)
    }
    (StructType(fields), rows)
  }

  /** Read one .dta file or a directory of them ([[FileSet]]). */
  def read(spark: SparkSession, path: String): DataFrame =
    FileSet.read(spark, path, Seq(".dta"), parse(_)._1, parse(_)._2.iterator)

  /**
   * to_stata: one format-114 file, driver-side behind the usual guarded
   * collect (pandas to_stata is likewise single-node). Type mapping
   * follows pandas: byte/short/int keep their width, long narrows to
   * st_int when every value fits (else st_double — 114 has no int64),
   * boolean → st_byte, string → strN at the observed max byte length
   * (cap 244, the format's limit). Nulls write each type's "." missing
   * code; null strings write "".
   */
  def write(df: DataFrame, path: String, maxRows: Int = 1048575): Unit = {
    val rows = FileSet.collectCapped(df, maxRows, "to_stata writes a single file")
    val schema = df.schema
    require(schema.length <= 32767, "dta caps at 32767 variables")
    schema.fields.foreach(f => require(f.name.getBytes(StandardCharsets.UTF_8).length <= 32,
      s"dta variable names cap at 32 bytes: ${f.name}"))

    // resolve each column's stata type code
    val codes: Array[Int] = schema.fields.zipWithIndex.map { case (f, i) =>
      f.dataType match {
        case ByteType | BooleanType => 251
        case ShortType => 252
        case IntegerType => 253
        case LongType =>
          val fits = rows.forall(r => r.isNullAt(i) ||
            (r.getLong(i) >= Int.MinValue && r.getLong(i) < MissInt))
          if (fits) 253 else 255
        case FloatType => 254
        case DoubleType => 255
        case StringType =>
          val w = math.max(1, rows.map(r =>
            if (r.isNullAt(i)) 0
            else r.getString(i).getBytes(StandardCharsets.UTF_8).length).foldLeft(0)(math.max))
          require(w <= 244, s"dta strN caps at 244 bytes (column ${f.name} has $w)")
          w
        case other => sys.error(s"to_stata: unsupported dtype $other for column ${f.name}")
      }
    }

    def fixed(s: String, len: Int): Array[Byte] = {
      val out = new Array[Byte](len)
      val b = s.getBytes(StandardCharsets.UTF_8)
      System.arraycopy(b, 0, out, 0, math.min(b.length, len - 1)) // keep a NUL
      out
    }
    val rowWidth = codes.map(c => if (c >= 251) Seq(1, 2, 4, 4, 8)(c - 251) else c).sum
    val nvar = schema.length
    val size = 109 + nvar + nvar * 33 + (nvar + 1) * 2 + nvar * 49 + nvar * 33 +
      nvar * 81 + 5 + rows.length.toLong * rowWidth
    require(size <= Int.MaxValue - 16,
      s"to_stata file would be $size bytes; write parquet for frames this size")
    val buf = ByteBuffer.allocate(size.toInt).order(ByteOrder.LITTLE_ENDIAN)
    buf.put(114.toByte).put(2.toByte).put(1.toByte).put(0.toByte)
    buf.putShort(nvar.toShort).putInt(rows.length)
    buf.put(fixed("graft to_stata", 81))
    buf.put(fixed("", 18))
    codes.foreach(c => buf.put(c.toByte))
    schema.fields.foreach(f => buf.put(fixed(f.name, 33)))
    buf.put(new Array[Byte]((nvar + 1) * 2)) // srtlist: unsorted
    codes.foreach { c =>                      // fmtlist (49 bytes each in 114)
      val fmtStr = c match {
        case 251 | 252 | 253 => "%8.0g"
        case 254 | 255 => "%10.0g"
        case w => s"%${w}s"
      }
      buf.put(fixed(fmtStr, 49))
    }
    (0 until nvar).foreach(_ => buf.put(fixed("", 33)))  // lbllist
    (0 until nvar).foreach(_ => buf.put(fixed("", 81)))  // variable labels
    buf.put(new Array[Byte](5))                          // expansion terminator
    rows.foreach { r =>
      codes.zipWithIndex.foreach { case (c, i) =>
        val isNull = r.isNullAt(i)
        c match {
          case 251 =>
            val v = if (isNull) MissByte
              else schema(i).dataType match {
                case BooleanType => if (r.getBoolean(i)) 1.toByte else 0.toByte
                case _ => r.getByte(i)
              }
            buf.put(v)
          case 252 => buf.putShort(if (isNull) MissShort else r.getShort(i))
          case 253 =>
            val v = if (isNull) MissInt else schema(i).dataType match {
              case LongType => r.getLong(i).toInt
              case _ => r.getInt(i)
            }
            buf.putInt(v)
          case 254 => buf.putFloat(if (isNull) MissFloat else r.getFloat(i))
          case 255 =>
            val v = if (isNull) MissDouble else schema(i).dataType match {
              case LongType => r.getLong(i).toDouble
              case _ => r.getDouble(i)
            }
            buf.putDouble(v)
          case w =>
            val out = new Array[Byte](w)
            if (!isNull) {
              val b = r.getString(i).getBytes(StandardCharsets.UTF_8)
              System.arraycopy(b, 0, out, 0, math.min(b.length, w))
            }
            buf.put(out)
        }
      }
    }
    val os = new FileOutputStream(path)
    try os.write(buf.array(), 0, buf.position()) finally os.close()
  }
}
