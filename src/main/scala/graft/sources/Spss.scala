package graft.sources

import java.io.FileOutputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/**
 * SPSS .sav system-file source/sink — the engine's `read_spss` /
 * `to_spss` (reference: modin/core/io/io.py:218-410, executed
 * single-node via default_to_pandas with pyreadstat). The layout is the
 * publicly documented PSPP "system file format": a `$FL2` header,
 * type-2 variable records (strings spanning ceil(w/8) data elements via
 * type=-1 continuations), skippable type-3/4/6/7 dictionary records, a
 * type-999 terminator, then case data where every element is 8 bytes —
 * a double for numerics (SYSMIS = most-negative double for missing) and
 * space-padded chunks for strings.
 *
 * The reader accepts both data layouts: uncompressed (compression 0)
 * and the standard bytecode compression (compression 1: command bytes
 * in groups of 8 — 0 pad, 1..251 biased small integer, 252 EOF, 253
 * literal follows, 254 all-spaces chunk, 255 SYSMIS); the writer emits
 * bytecode like SPSS itself, so the round trip exercises the
 * compressed path. Both byte orders are read (detected from
 * layout_code); output is little-endian.
 *
 * No external validator for this format ships in this environment
 * (pandas.read_spss requires pyreadstat, which is absent), so unlike
 * [[Stata]]/[[SasXport]] the evidence is a spec-pinned self round trip
 * plus a format walk written strictly from the PSPP documentation —
 * the row stays "tested", not oracle-proven against a second
 * implementation. Not supported (o-o-s): very-long-string extension
 * records (width > 255), value-label decoding, variable sets, and
 * multi-dataset containers (.zsav zlib compression).
 */
object Spss {

  /** SYSMIS: the most negative IEEE double, per the PSPP format doc. */
  private val SysMis = -java.lang.Double.MAX_VALUE
  private val Bias = 100.0

  private case class Var(name: String, width: Int) { // width 0 = numeric
    def elems: Int = if (width == 0) 1 else (width + 7) / 8
  }

  /** Parse one .sav into (schema, rows). */
  private def parse(path: String): (StructType, Seq[Row]) = {
    val bytes = Files.readAllBytes(Paths.get(path))
    require(bytes.length >= 176 &&
      new String(bytes, 0, 4, StandardCharsets.US_ASCII) == "$FL2",
      s"$path is not an SPSS system file ($$FL2 magic missing; .zsav is o-o-s)")
    // layout_code detects byte order: stored as 2 by every writer
    def orderFor(le: ByteOrder): ByteBuffer = ByteBuffer.wrap(bytes).order(le)
    var buf = orderFor(ByteOrder.LITTLE_ENDIAN)
    if (buf.getInt(64) != 2) {
      buf = orderFor(ByteOrder.BIG_ENDIAN)
      require(buf.getInt(64) == 2, s"$path: layout_code is ${buf.getInt(64)} in both byte orders")
    }
    val caseSize = buf.getInt(68)
    val compression = buf.getInt(72)
    require(compression == 0 || compression == 1,
      s"$path: unsupported compression $compression (0=none, 1=bytecode; zlib .zsav is o-o-s)")
    val ncases = buf.getInt(80)
    val bias = buf.getDouble(84)

    // dictionary walk
    buf.position(176)
    val vars = scala.collection.mutable.ArrayBuffer.empty[Var]
    var done = false
    while (!done) {
      buf.getInt match {
        case 2 =>
          val typ = buf.getInt
          val hasLabel = buf.getInt
          val nMissing = buf.getInt
          buf.getInt; buf.getInt // print/write formats
          val nb = new Array[Byte](8); buf.get(nb)
          val name = new String(nb, StandardCharsets.US_ASCII).trim
          if (hasLabel == 1) {
            val len = buf.getInt
            buf.position(buf.position() + ((len + 3) / 4) * 4)
          }
          if (nMissing != 0) buf.position(buf.position() + math.abs(nMissing) * 8)
          if (typ >= 0) vars += Var(name, typ) // -1 continuations carry no new variable
        case 3 => // value labels: count * (double + padded pascal string)
          val n = buf.getInt
          (0 until n).foreach { _ =>
            buf.getDouble
            val len = buf.get() & 0xff
            buf.position(buf.position() + ((len + 1 + 7) / 8) * 8 - 1)
          }
        case 4 => // value-label variable index list
          val n = buf.getInt
          buf.position(buf.position() + n * 4)
        case 6 => // documents
          val n = buf.getInt
          buf.position(buf.position() + n * 80)
        case 7 => // extension record: subtype, element size, count
          buf.getInt
          val sz = buf.getInt
          val cnt = buf.getInt
          buf.position(buf.position() + sz * cnt)
        case 999 =>
          buf.getInt // trailing zero
          done = true
        case other => sys.error(s"$path: unknown dictionary record type $other")
      }
    }
    require(vars.map(_.elems).sum == caseSize,
      s"$path: variable widths (${vars.map(_.elems).sum} elements) disagree with " +
        s"nominal_case_size $caseSize (very-long-string extensions are o-o-s)")

    // case data: either raw 8-byte elements or bytecode commands
    val elements: Iterator[Array[Byte]] =
      if (compression == 0) new Iterator[Array[Byte]] {
        def hasNext: Boolean = buf.remaining() >= 8
        def next(): Array[Byte] = { val a = new Array[Byte](8); buf.get(a); a }
      } else new Iterator[Array[Byte]] {
        private val cmds = scala.collection.mutable.Queue.empty[Int]
        private var eof = false
        private def refill(): Unit =
          while (cmds.isEmpty && !eof) {
            if (buf.remaining() < 8) { eof = true }
            else {
              val block = new Array[Byte](8); buf.get(block)
              block.foreach { b =>
                val c = b & 0xff
                if (c == 252) eof = true else if (c != 0 && !eof) cmds += c
              }
            }
          }
        def hasNext: Boolean = { refill(); cmds.nonEmpty }
        def next(): Array[Byte] = {
          refill()
          val c = cmds.dequeue()
          c match {
            case 253 => val a = new Array[Byte](8); buf.get(a); a
            case 254 => Array.fill[Byte](8)(' '.toByte)
            case 255 =>
              val a = new Array[Byte](8)
              ByteBuffer.wrap(a).order(buf.order()).putDouble(SysMis); a
            case v => // biased small integer
              val a = new Array[Byte](8)
              ByteBuffer.wrap(a).order(buf.order()).putDouble(v - bias); a
          }
        }
      }

    val fields = vars.map(v =>
      StructField(v.name, if (v.width == 0) DoubleType else StringType, nullable = true)).toSeq
    val rows = (0 until ncases).map { _ =>
      Row.fromSeq(vars.map { v =>
        if (v.width == 0) {
          val d = ByteBuffer.wrap(elements.next()).order(buf.order()).getDouble
          if (d == SysMis) null else d
        } else {
          val sb = new java.io.ByteArrayOutputStream(v.elems * 8)
          (0 until v.elems).foreach(_ => sb.write(elements.next()))
          val raw = sb.toByteArray
          var end = math.min(v.width, raw.length)
          while (end > 0 && raw(end - 1) == ' '.toByte) end -= 1
          new String(raw, 0, end, StandardCharsets.UTF_8)
        }
      }.toIndexedSeq)
    }
    (StructType(fields), rows)
  }

  /** Read one .sav file or a directory of them ([[FileSet]]). */
  def read(spark: SparkSession, path: String): DataFrame =
    FileSet.read(spark, path, Seq(".sav"), parse(_)._1, parse(_)._2.iterator)

  /**
   * to_spss: one bytecode-compressed .sav, driver-side behind the usual
   * guarded collect (the reference likewise single-nodes this family
   * through pyreadstat). Numeric/boolean columns write as SPSS numerics
   * (doubles; nulls and NaNs as SYSMIS), strings as width-`maxlen`
   * fields (cap 255 — very-long-string extensions are o-o-s). Names
   * must fit the classic 8-byte dictionary slot — alias before writing.
   */
  def write(df: DataFrame, path: String, maxRows: Int = 1048575): Unit = {
    val rows = FileSet.collectCapped(df, maxRows, "to_spss writes a single file")
    val schema = df.schema
    schema.fields.foreach { f =>
      val b = f.name.getBytes(StandardCharsets.US_ASCII)
      require(b.length <= 8 && b.sameElements(f.name.getBytes(StandardCharsets.UTF_8)),
        s"classic .sav variable names cap at 8 ASCII bytes: ${f.name} (alias it shorter)")
    }
    val widths: Array[Int] = schema.fields.zipWithIndex.map { case (f, i) =>
      f.dataType match {
        case _: NumericType | BooleanType => 0
        case StringType =>
          val w = math.max(1, rows.map(r =>
            if (r.isNullAt(i)) 0
            else r.getString(i).getBytes(StandardCharsets.UTF_8).length).foldLeft(0)(math.max))
          require(w <= 255, s".sav classic strings cap at 255 bytes (column ${f.name} has $w)")
          w
        case other => sys.error(s"to_spss: unsupported dtype $other for column ${f.name}")
      }
    }
    val caseSize = widths.map(w => if (w == 0) 1 else (w + 7) / 8).sum
    def numOf(r: Row, i: Int): Double = schema(i).dataType match {
      case BooleanType => if (r.getBoolean(i)) 1.0 else 0.0
      case _ => r.get(i) match {
        case x: java.lang.Number => x.doubleValue()
        case x => sys.error(s"to_spss: non-numeric $x in numeric column")
      }
    }

    val head = ByteBuffer.allocate(176).order(ByteOrder.LITTLE_ENDIAN)
    head.put("$FL2".getBytes(StandardCharsets.US_ASCII))
    head.put(String.format("%-60s", "@(#) SPSS DATA FILE graft to_spss")
      .getBytes(StandardCharsets.US_ASCII))
    head.putInt(2)           // layout_code
    head.putInt(caseSize)    // nominal_case_size
    head.putInt(1)           // bytecode compression
    head.putInt(0)           // weight_index: unweighted
    head.putInt(rows.length) // ncases
    head.putDouble(Bias)
    head.put("01 Jan 70".getBytes(StandardCharsets.US_ASCII)) // fixed: deterministic
    head.put("00:00:00".getBytes(StandardCharsets.US_ASCII))
    head.put(String.format("%-64s", "").getBytes(StandardCharsets.US_ASCII))
    head.put(new Array[Byte](3))

    val dict = new java.io.ByteArrayOutputStream()
    def putInt(o: java.io.ByteArrayOutputStream, v: Int): Unit = {
      val b = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putInt(v)
      o.write(b.array())
    }
    schema.fields.zip(widths).foreach { case (f, w) =>
      putInt(dict, 2)
      putInt(dict, w)
      putInt(dict, 0) // no label
      putInt(dict, 0) // no missing-value list
      // print/write format: decimals | width<<8 | type<<16 (F=5, A=1)
      val fmt = if (w == 0) (2 | (8 << 8) | (5 << 16)) else (0 | (w << 8) | (1 << 16))
      putInt(dict, fmt)
      putInt(dict, fmt)
      dict.write(String.format("%-8s", f.name).getBytes(StandardCharsets.US_ASCII))
      val extra = (if (w == 0) 1 else (w + 7) / 8) - 1
      (0 until extra).foreach { _ => // string continuation elements
        putInt(dict, 2); putInt(dict, -1)
        putInt(dict, 0); putInt(dict, 0); putInt(dict, 0); putInt(dict, 0)
        dict.write(String.format("%-8s", "").getBytes(StandardCharsets.US_ASCII))
      }
    }
    putInt(dict, 999); putInt(dict, 0)

    // bytecode data: command bytes buffered in groups of 8, literal
    // 8-byte slots flushed after each full command block (format rule)
    val data = new java.io.ByteArrayOutputStream()
    val cmds = new Array[Byte](8)
    var nCmd = 0
    val pendingLits = new java.io.ByteArrayOutputStream()
    def flushBlock(pad: Boolean): Unit = {
      if (nCmd > 0 || pad) {
        while (nCmd < 8) { cmds(nCmd) = 0; nCmd += 1 }
        data.write(cmds, 0, 8)
        pendingLits.writeTo(data)
        pendingLits.reset()
        nCmd = 0
      }
    }
    def cmd(c: Int, lit: Array[Byte] = null): Unit = {
      cmds(nCmd) = c.toByte; nCmd += 1
      if (lit != null) pendingLits.write(lit)
      if (nCmd == 8) flushBlock(pad = false)
    }
    def litDouble(v: Double): Array[Byte] =
      ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN).putDouble(v).array()
    rows.foreach { r =>
      widths.zipWithIndex.foreach { case (w, i) =>
        if (w == 0) {
          if (r.isNullAt(i)) cmd(255)
          else {
            val v = numOf(r, i)
            if (v.isNaN) cmd(255)
            else if (v == math.rint(v) && v + Bias >= 1.0 && v + Bias <= 251.0 &&
              (v + Bias) == math.rint(v + Bias))
              cmd((v + Bias).toInt)
            else cmd(253, litDouble(v))
          }
        } else {
          val raw = if (r.isNullAt(i)) Array.emptyByteArray
            else r.getString(i).getBytes(StandardCharsets.UTF_8)
          val elems = (w + 7) / 8
          (0 until elems).foreach { e =>
            val chunk = Array.fill[Byte](8)(' '.toByte)
            val from = e * 8
            val len = math.max(0, math.min(8, raw.length - from))
            if (len > 0) System.arraycopy(raw, from, chunk, 0, len)
            if (chunk.forall(_ == ' '.toByte)) cmd(254) else cmd(253, chunk)
          }
        }
      }
    }
    cmd(252) // end of data
    flushBlock(pad = false)

    val os = new FileOutputStream(path)
    try {
      os.write(head.array())
      dict.writeTo(os)
      data.writeTo(os)
    } finally os.close()
  }
}
