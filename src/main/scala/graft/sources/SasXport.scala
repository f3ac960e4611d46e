package graft.sources

import java.io.FileOutputStream
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/**
 * SAS XPORT (transport) v5 source/sink — the engine's `read_sas` /
 * `to_sas` for .xpt files (reference: modin/core/io/io.py:218-410,
 * executed single-node via default_to_pandas). The format is the public
 * SAS TS-140 layout: a stream of 80-byte card-image records — library
 * header, member/descriptor headers, 140-byte NAMESTR entries per
 * variable, an OBS header, then row-major observation data where every
 * numeric is an IBM System/360 hexadecimal float (1 sign bit, 7-bit
 * base-16 exponent biased 64, 56-bit fraction) and every char field is
 * space-padded ASCII.
 *
 * Validation is asymmetric by necessity: pandas READS this format
 * natively but cannot write it, so SasXportSpec checks our writer
 * against pandas' reader (a committed CSV of what pandas parsed from
 * our fixture) and our reader against the same fixture — pinning
 * cross-implementation agreement in both directions through the one
 * external implementation available.
 *
 * Directory input parallelizes one task per file with the by-name
 * schema merge every file source shares ([[FileSet]]) — the many-files
 * axis is where a cluster read scales; a single .xpt is a bounded artifact by
 * format (8-char variable names, 200-byte strings, doubles only).
 *
 * Type fidelity follows SAS itself: the format has exactly two types,
 * so every numeric column reads as DoubleType and every char column as
 * StringType (trailing spaces trimmed; all-blank reads as "", SAS has
 * no char missing distinct from blank). Numeric missing codes
 * ('.', '._', '.A'-'.Z' — first byte 0x2E/0x5F/0x41-0x5A, rest zero)
 * read as null. Not supported (documented o-o-s): XPORT v8/v9 extended
 * headers (LABELV8/LABELV9 32-char names) and multi-member files beyond
 * the first dataset.
 */
object SasXport {

  private val Rec = 80
  private val NamestrUsed = 140 // bytes of a NAMESTR entry we model

  // ---- IBM System/360 hexadecimal float <-> IEEE 754 binary64 ----

  /** IEEE double -> 8-byte IBM hex float (big-endian). Derivation: with
    * v = m * 2^p (m in [1,2), 53-bit mantissa mInt), choose base-16
    * exponent E = floor(p/4)+1 so the fraction F = v / 16^E lands in
    * [1/16, 1); then the 56-bit fraction integer is exactly
    * mInt << (p mod 4) (<= 56 bits, no rounding — IBM's 56-bit fraction
    * strictly contains IEEE's 53-bit one, which is why the round trip
    * is lossless in this direction). */
  private[graft] def ieeeToIbm(v: Double): Array[Byte] = {
    val out = new Array[Byte](8)
    if (v == 0.0) return out // +0 and -0 both write as true zero, like SAS
    if (v.isNaN) { out(0) = '.'.toByte; return out }
    val bits = java.lang.Double.doubleToLongBits(v)
    val sign = (bits >>> 63).toInt
    var p = ((bits >> 52) & 0x7ff).toInt - 1023
    var mInt = (bits & 0xfffffffffffffL) | (1L << 52)
    if (((bits >> 52) & 0x7ff) == 0) { // subnormal: normalize manually
      mInt = bits & 0xfffffffffffffL
      p = -1022
      while ((mInt & (1L << 52)) == 0) { mInt <<= 1; p -= 1 }
    }
    val e16 = Math.floorDiv(p, 4) + 1
    if (e16 < -64) return out // underflows IBM range (< 16^-65): flush to zero, like SAS
    require(e16 <= 63,
      s"$v overflows the IBM hex-float exponent range (max ~7.23e75)")
    val frac = mInt << Math.floorMod(p, 4)
    out(0) = ((sign << 7) | (e16 + 64)).toByte
    var f = frac
    var i = 7
    while (i >= 1) { out(i) = (f & 0xff).toByte; f >>>= 8; i -= 1 }
    out
  }

  /** IBM hex float (2..8 bytes, big-endian) -> IEEE double or null for
    * the missing codes. Fraction integers carry <= 56 significant bits;
    * `toDouble` rounds half-even to 53, which is byte-exact for
    * anything our writer (or any IEEE-sourced writer) produced. */
  private[graft] def ibmToIeee(b: Array[Byte], off: Int, len: Int): Any = {
    val b0 = b(off) & 0xff
    var rest = 0L
    var i = 1
    while (i < len) { rest = (rest << 8) | (b(off + i) & 0xff); i += 1 }
    if (rest == 0 && (b0 == 0x2e || b0 == 0x5f || (b0 >= 0x41 && b0 <= 0x5a)))
      return null // '.', '._', '.A'-'.Z'
    if (rest == 0 && (b0 & 0x7f) == 0) return 0.0
    val frac = if (len < 8) rest << (8 * (8 - len)) else rest
    if (frac == 0) return 0.0
    val e16 = (b0 & 0x7f) - 64
    val mag = Math.scalb(frac.toDouble, 4 * e16 - 56)
    if ((b0 & 0x80) != 0) -mag else mag
  }

  // ---- record helpers ----

  private def ascii(b: Array[Byte], off: Int, len: Int): String =
    new String(b, off, len, StandardCharsets.US_ASCII)

  private def beShort(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 8) | (b(off + 1) & 0xff)

  private case class Var(name: String, numeric: Boolean, len: Int, pos: Int)

  /** Parse one .xpt into (schema, rows). First member only. */
  private def parse(path: String): (StructType, Seq[Row]) = {
    val bytes = Files.readAllBytes(Paths.get(path))
    require(bytes.length >= 80 * 9 && bytes.length % Rec == 0,
      s"$path is not an XPORT file (length ${bytes.length} not a multiple of 80)")
    def rec(i: Int): String = ascii(bytes, i * Rec, Rec)
    require(rec(0).startsWith("HEADER RECORD*******LIBRARY HEADER RECORD!!!!!!!"),
      s"$path missing the XPORT library header (v8/v9 extended headers are o-o-s)")
    // records 1-2: real header (SAS SAS SASLIB...) — skip
    var r = 3
    require(rec(r).startsWith("HEADER RECORD*******MEMBER  HEADER RECORD!!!!!!!"),
      s"$path: expected MEMBER header at record $r")
    // namestr entry size is the trailing integer of the MEMBER header
    val nsize = rec(r).trim.takeRight(4).toInt
    require(nsize == 140 || nsize == 136, s"$path: unsupported NAMESTR size $nsize")
    r += 1 // DSCRPTR header
    require(rec(r).startsWith("HEADER RECORD*******DSCRPTR HEADER RECORD!!!!!!!"),
      s"$path: expected DSCRPTR header at record $r")
    r += 3 // member real header (2 records) follow, then NAMESTR header
    require(rec(r).startsWith("HEADER RECORD*******NAMESTR HEADER RECORD!!!!!!!"),
      s"$path: expected NAMESTR header at record $r")
    val nvar = rec(r).substring(54, 58).trim.toInt
    r += 1
    val nsBase = r * Rec
    val vars = (0 until nvar).map { i =>
      val o = nsBase + i * nsize
      val ntype = beShort(bytes, o)
      require(ntype == 1 || ntype == 2, s"$path: NAMESTR ntype $ntype")
      val nlng = beShort(bytes, o + 4)
      val name = ascii(bytes, o + 8, 8).trim
      val npos = ((bytes(o + 84) & 0xff) << 24) | ((bytes(o + 85) & 0xff) << 16) |
        ((bytes(o + 86) & 0xff) << 8) | (bytes(o + 87) & 0xff)
      Var(name, ntype == 1, nlng, npos)
    }.sortBy(_.pos)
    r += (nvar * nsize + Rec - 1) / Rec
    require(rec(r).startsWith("HEADER RECORD*******OBS     HEADER RECORD!!!!!!!"),
      s"$path: expected OBS header at record $r")
    val dataStart = (r + 1) * Rec
    val rowWidth = vars.map(_.len).sum
    require(rowWidth > 0, s"$path: zero-width observation record")
    val nRows = (bytes.length - dataStart) / rowWidth
    // Trailing padding: the final 80-byte record is space-filled past the
    // last observation, so a row lying entirely in that tail region and
    // consisting only of blanks is padding, not data.
    def isPad(rowOff: Int): Boolean = {
      if (rowOff < bytes.length - Rec) return false
      var i = rowOff
      while (i < rowOff + rowWidth) { if (bytes(i) != ' '.toByte) return false; i += 1 }
      true
    }
    val fields = vars.map(v =>
      StructField(v.name, if (v.numeric) DoubleType else StringType, nullable = true))
    val rows = (0 until nRows).flatMap { ri =>
      val off = dataStart + ri * rowWidth
      if (isPad(off)) None
      else Some(Row.fromSeq(vars.map { v =>
        val o = off + (v.pos - vars.head.pos)
        if (v.numeric) ibmToIeee(bytes, o, v.len)
        else {
          var end = o + v.len
          while (end > o && bytes(end - 1) == ' '.toByte) end -= 1
          new String(bytes, o, end - o, StandardCharsets.US_ASCII)
        }
      }))
    }
    (StructType(fields), rows)
  }

  /** Read one .xpt file or a directory of them ([[FileSet]]). */
  def read(spark: SparkSession, path: String): DataFrame =
    FileSet.read(spark, path, Seq(".xpt"), parse(_)._1, parse(_)._2.iterator)

  /**
   * to_sas (XPORT v5): one file, driver-side behind the usual guarded
   * collect (the reference likewise single-nodes this family). Every
   * numeric/boolean column writes as an 8-byte IBM double (SAS's only
   * numeric type); strings write space-padded at the observed max byte
   * length (cap 200, the v5 limit). Nulls and NaNs write the '.'
   * missing code; null strings write blanks (read back as ""). Variable
   * names must fit the format's 8 ASCII bytes — select/alias before
   * writing, exactly what SAS users do.
   */
  def write(df: DataFrame, path: String, maxRows: Int = 1048575): Unit = {
    val rows = FileSet.collectCapped(df, maxRows, "to_sas writes a single file")
    val schema = df.schema
    require(schema.length <= 9999, "XPORT NAMESTR count field is 4 digits")
    schema.fields.foreach { f =>
      val b = f.name.getBytes(StandardCharsets.US_ASCII)
      require(b.length <= 8 && b.sameElements(f.name.getBytes(StandardCharsets.UTF_8)),
        s"XPORT v5 variable names cap at 8 ASCII bytes: ${f.name} (alias it shorter)")
    }
    // per-column (numeric?, byte length)
    val cols: Array[(Boolean, Int)] = schema.fields.zipWithIndex.map { case (f, i) =>
      f.dataType match {
        case _: NumericType | BooleanType => (true, 8)
        case StringType =>
          val w = math.max(1, rows.map(r =>
            if (r.isNullAt(i)) 0
            else r.getString(i).getBytes(StandardCharsets.US_ASCII).length).foldLeft(0)(math.max))
          require(w <= 200, s"XPORT v5 char fields cap at 200 bytes (column ${f.name} has $w)")
          (false, w)
        case other => sys.error(s"to_sas: unsupported dtype $other for column ${f.name}")
      }
    }
    def numOf(r: Row, i: Int): Double = schema(i).dataType match {
      case BooleanType => if (r.getBoolean(i)) 1.0 else 0.0
      case _ => r.get(i) match {
        case x: java.lang.Number => x.doubleValue()
        case x => sys.error(s"to_sas: non-numeric $x in numeric column")
      }
    }
    val stamp = "14AUG26:00:00:00" // fixed creation stamp: deterministic output
    def card(s: String): Array[Byte] = {
      val out = Array.fill[Byte](Rec)(' '.toByte)
      val b = s.getBytes(StandardCharsets.US_ASCII)
      System.arraycopy(b, 0, out, 0, math.min(b.length, Rec))
      out
    }
    val os = new FileOutputStream(path)
    try {
      os.write(card("HEADER RECORD*******LIBRARY HEADER RECORD!!!!!!!" +
        "000000000000000000000000000000"))
      os.write(card(f"SAS     SAS     SASLIB  9.4     Linux   ${""}%24s$stamp"))
      os.write(card(stamp))
      os.write(card("HEADER RECORD*******MEMBER  HEADER RECORD!!!!!!!" +
        "000000000000000001600000000140"))
      os.write(card("HEADER RECORD*******DSCRPTR HEADER RECORD!!!!!!!" +
        "000000000000000000000000000000"))
      os.write(card(f"SAS     GRAFT   SASDATA 9.4     Linux   ${""}%24s$stamp"))
      os.write(card(stamp))
      os.write(card(f"HEADER RECORD*******NAMESTR HEADER RECORD!!!!!!!000000${schema.length}%04d" +
        "00000000000000000000"))
      // NAMESTR entries, 140 bytes each, big-endian shorts/ints
      val nsTotal = schema.length * NamestrUsed
      val ns = new Array[Byte](((nsTotal + Rec - 1) / Rec) * Rec)
      java.util.Arrays.fill(ns, ' '.toByte)
      var pos = 0
      schema.fields.zipWithIndex.foreach { case (f, i) =>
        val o = i * NamestrUsed
        java.util.Arrays.fill(ns, o, o + NamestrUsed, 0.toByte)
        val (isNum, len) = cols(i)
        def sh(off: Int, v: Int): Unit = {
          ns(o + off) = ((v >> 8) & 0xff).toByte; ns(o + off + 1) = (v & 0xff).toByte
        }
        sh(0, if (isNum) 1 else 2) // ntype
        sh(4, len)                 // nlng
        sh(6, i + 1)               // varnum
        val nb = f.name.getBytes(StandardCharsets.US_ASCII)
        java.util.Arrays.fill(ns, o + 8, o + 8 + 8, ' '.toByte)
        System.arraycopy(nb, 0, ns, o + 8, nb.length)
        java.util.Arrays.fill(ns, o + 16, o + 16 + 40, ' '.toByte) // label blank
        java.util.Arrays.fill(ns, o + 56, o + 56 + 8, ' '.toByte)  // format blank
        java.util.Arrays.fill(ns, o + 72, o + 72 + 8, ' '.toByte)  // informat blank
        ns(o + 84) = ((pos >> 24) & 0xff).toByte
        ns(o + 85) = ((pos >> 16) & 0xff).toByte
        ns(o + 86) = ((pos >> 8) & 0xff).toByte
        ns(o + 87) = (pos & 0xff).toByte
        pos += len
      }
      // pad region after the last entry stays spaces (card-image fill)
      java.util.Arrays.fill(ns, nsTotal, ns.length, ' '.toByte)
      os.write(ns)
      os.write(card("HEADER RECORD*******OBS     HEADER RECORD!!!!!!!" +
        "000000000000000000000000000000"))
      val rowWidth = cols.map(_._2).sum
      val missing = { val a = new Array[Byte](8); a(0) = '.'.toByte; a }
      val buf = new java.io.ByteArrayOutputStream(rows.length * rowWidth + Rec)
      rows.foreach { r =>
        cols.zipWithIndex.foreach { case ((isNum, len), i) =>
          if (isNum) {
            if (r.isNullAt(i)) buf.write(missing)
            else {
              val v = numOf(r, i)
              buf.write(if (v.isNaN) missing else ieeeToIbm(v))
            }
          } else {
            val out = Array.fill[Byte](len)(' '.toByte)
            if (!r.isNullAt(i)) {
              val b = r.getString(i).getBytes(StandardCharsets.US_ASCII)
              System.arraycopy(b, 0, out, 0, math.min(b.length, len))
            }
            buf.write(out)
          }
        }
      }
      while (buf.size() % Rec != 0) buf.write(' '.toByte)
      os.write(buf.toByteArray)
    } finally os.close()
  }
}
