package graft.functions

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, UnsafeArrayWriter, UnsafeRowWriter}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Shim
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, StructType}

/** Hand-rolled proto3 wire-format encoder for the reference's output
  * schema (`/root/reference/src/main/proto/sstable.proto:1-16`):
  *
  * {{{
  * message Column { bytes name = 1; bytes value = 2; fixed64 writeTime = 3; }
  * message Row    { bytes key = 1; repeated Column columns = 2; }
  * }}}
  *
  * and the varint length-delimited framing `writeDelimitedTo` uses
  * (`/root/reference/.../Runner.java:118`). Proto3 semantics: fields at
  * their default value (empty bytes, zero fixed64) are skipped, matching
  * what `protobuf-java` emits for the reference's builders.
  *
  * The wire format is public Google documentation
  * (protobuf.dev/programming-guides/encoding): little-endian base-128
  * varints, tag = (fieldNumber << 3) | wireType, wireType 2 = LEN,
  * wireType 1 = I64.
  */
object ProtoWire {

  def writeVarint(out: ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7FL) != 0L) {
      out.write(((v & 0x7F) | 0x80).toInt)
      v >>>= 7
    }
    out.write(v.toInt)
  }

  def varintSize(v: Long): Int = {
    var n = 1
    var x = v
    while ((x & ~0x7FL) != 0L) { n += 1; x >>>= 7 }
    n
  }

  /** Size of a LEN field (tag, length varint, bytes); 0 when proto3
    * skips it (null or empty).
    */
  private def lenFieldSize(bytes: Array[Byte]): Int =
    if (bytes == null || bytes.length == 0) 0
    else 1 + varintSize(bytes.length.toLong) + bytes.length

  private def putVarint(out: Array[Byte], at: Int, v0: Long): Int = {
    var v = v0
    var p = at
    while ((v & ~0x7FL) != 0L) {
      out(p) = ((v & 0x7F) | 0x80).toByte
      v >>>= 7
      p += 1
    }
    out(p) = v.toByte
    p + 1
  }

  private def putLenField(out: Array[Byte], at: Int, field: Int, bytes: Array[Byte]): Int =
    if (bytes == null || bytes.length == 0) at
    else {
      out(at) = ((field << 3) | 2).toByte
      val p = putVarint(out, at + 1, bytes.length.toLong)
      System.arraycopy(bytes, 0, out, p, bytes.length)
      p + bytes.length
    }

  private def putFixed64(out: Array[Byte], at: Int, field: Int, v: Long): Int =
    if (v == 0L) at
    else {
      out(at) = ((field << 3) | 1).toByte
      var i = 0
      while (i < 8) { out(at + 1 + i) = (v >>> (8 * i)).toByte; i += 1 }
      at + 9
    }

  private def columnSize(name: Array[Byte], value: Array[Byte], writeTime: Long): Int =
    lenFieldSize(name) + lenFieldSize(value) + (if (writeTime != 0L) 9 else 0)

  private def putColumn(out: Array[Byte], at: Int, name: Array[Byte],
      value: Array[Byte], writeTime: Long): Int =
    putFixed64(out, putLenField(out, putLenField(out, at, 1, name), 2, value), 3, writeTime)

  /** Encode one Column message body. */
  def encodeColumn(name: Array[Byte], value: Array[Byte], writeTime: Long): Array[Byte] = {
    val out = new Array[Byte](columnSize(name, value, writeTime))
    putColumn(out, 0, name, value, writeTime)
    out
  }

  /** Encode one Row message body from a key and an ArrayData of
    * struct&lt;name:binary, value:binary, writeTime:long&gt;. Invoked both
    * from interpreted eval and from whole-stage-generated code.
    */
  def encodeRow(key: Array[Byte], columns: ArrayData): Array[Byte] =
    encode(key, columns, delimited = false)

  /** `delimit(encodeRow(key, columns))` without the intermediate array:
    * the sink's per-row encode.
    */
  def encodeDelimited(key: Array[Byte], columns: ArrayData): Array[Byte] =
    encode(key, columns, delimited = true)

  /** The one row encoder: a pass over `columns` reads each cell once and
    * sizes it, then the message is written into an array of exactly its
    * size (with its varint length prefix when `delimited`).
    */
  private def encode(key: Array[Byte], columns: ArrayData,
      delimited: Boolean): Array[Byte] = {
    val n = if (columns == null) 0 else columns.numElements()
    val names = new Array[Array[Byte]](n)
    val values = new Array[Array[Byte]](n)
    val times = new Array[Long](n)
    val sizes = new Array[Int](n)
    var body = lenFieldSize(key)
    var i = 0
    while (i < n) {
      val r = columns.getStruct(i, 3)
      names(i) = if (r.isNullAt(0)) null else r.getBinary(0)
      values(i) = if (r.isNullAt(1)) null else r.getBinary(1)
      times(i) = if (r.isNullAt(2)) 0L else r.getLong(2)
      sizes(i) = columnSize(names(i), values(i), times(i))
      // repeated message field: always emitted, even when empty
      body += 1 + varintSize(sizes(i).toLong) + sizes(i)
      i += 1
    }
    val out = new Array[Byte]((if (delimited) varintSize(body.toLong) else 0) + body)
    var p = if (delimited) putVarint(out, 0, body.toLong) else 0
    p = putLenField(out, p, 1, key)
    i = 0
    while (i < n) {
      out(p) = ((2 << 3) | 2).toByte
      p = putColumn(out, putVarint(out, p + 1, sizes(i).toLong), names(i), values(i), times(i))
      i += 1
    }
    out
  }

  /** varint-length-prefix a message (== protobuf writeDelimitedTo). */
  def delimit(msg: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](varintSize(msg.length.toLong) + msg.length)
    val p = putVarint(out, 0, msg.length.toLong)
    System.arraycopy(msg, 0, out, p, msg.length)
    out
  }

  /** Decode a stream of varint-framed Row messages (the sink's on-disk
    * layout, == repeated `parseDelimitedFrom`): returns (row count,
    * total Column-message count), throwing the validated
    * IllegalArgumentException on the first bad byte. Used by the sink
    * round-trip check.
    */
  def decodeStats(buf: Array[Byte]): (Long, Long) = {
    val frames = new RowDecoder(new java.io.ByteArrayInputStream(buf), ReadShape.Empty)
    var cols = 0L
    while (frames.next()) cols += frames.columns
    (frames.frames, cols)
  }

  /** SALVAGE walk of a varint-framed Row stream: like [[decodeStats]]
    * but never throws on corruption — counts the COMPLETE frames before
    * the first bad byte and reports where the good data ends. Returns
    * (rows, columns, byte offset in the decoded stream after the last
    * complete frame, clean): `clean` ⟺ the whole stream parsed as
    * complete frames; a garbled varint, a truncated body, a wire-type
    * error inside a frame, or the decompressor itself throwing
    * mid-stream ends the walk with everything before it counted. The
    * reference's read path marks a file it cannot parse SUSPECT and
    * keeps serving the rest (`SSTableReaderPatched.java:248-253`
    * markSuspect) — this is that verdict's parsing half.
    *
    * Memory is bounded by ONE frame (≤ [[MaxFrameBytes]]), never the
    * decoded file: the oversized legacy files salvage exists to rescue
    * are exactly the ones a drain-to-array walk could not even hold (a
    * >2 GiB decoded file cannot BE a JVM array). Does not close `in`;
    * the caller owns the stream.
    */
  def salvageStatsStream(in: java.io.InputStream): (Long, Long, Long, Boolean) = {
    val frames = new RowDecoder(in, ReadShape.Empty)
    var rows = 0L
    var cols = 0L
    var lastGood = 0L
    try {
      while (frames.next()) {
        rows += 1; cols += frames.columns; lastGood = frames.offset
      }
      (rows, cols, lastGood, true)
    } catch { case _: Exception => (rows, cols, lastGood, false) }
  }

  /** One decoded Column message. */
  final case class DecodedColumn(name: Array[Byte], value: Array[Byte],
      writeTime: Long)

  /** One decoded Row message. */
  final case class DecodedRow(key: Array[Byte], columns: Seq[DecodedColumn])

  /** Full decode of a varint-framed Row stream (inverse of
    * `proto_delimited(proto_row(...))`): the reference decoder the
    * tests compare [[RowDecoder]] against, and the benchmark's decode
    * floor. Frames decode lazily, so corruption in frame N+1 surfaces
    * after frame N was delivered.
    */
  def decodeRows(buf: Array[Byte]): Iterator[DecodedRow] =
    decodeSpans(buf).map { case (key, spans) =>
      DecodedRow(key, spans.map { case (s, e) => decodeColumnAt(buf, s, e) })
    }

  /** Upper bound on a single frame (one Row message). The writer frames
    * one Row per partition key, so this caps tolerated partition size,
    * not file size — a corrupt varint claiming an absurd length must
    * throw instead of driving a giant allocation.
    */
  private val MaxFrameBytes: Int = 1 << 28 // 256 MiB

  /** A test of a key's bytes in place, `b[off, off + len)`. */
  trait KeyGate { def apply(b: Array[Byte], off: Int, len: Int): Boolean }

  val KeepAll: KeyGate = (_, _, _) => true

  /** The row a read schema asks the [[RowDecoder]] for, compiled once:
    * the ordinals of `key` and `columns` (−1 when pruned) and, for each
    * field of the `columns` element struct in its declared order, the
    * Column message field it carries (1 name, 2 value, 3 write time).
    * Spark prunes nested fields too (`count()` asks for
    * `array<struct<>>`), so any subset in any order is a shape.
    */
  final class ReadShape private (val width: Int, val keyAt: Int,
      val columnsAt: Int, val cellFields: Array[Int])

  object ReadShape {
    def apply(schema: StructType): ReadShape = {
      val cells = schema.fields.find(_.name == "columns").fold(Array.empty[Int]) {
        _.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
          .fieldNames.map {
            case "name" => 1
            case "value" => 2
            case "write_time" => 3
          }
      }
      new ReadShape(schema.length, schema.fieldNames.indexOf("key"),
        schema.fieldNames.indexOf("columns"), cells)
    }

    /** No field: frames are walked and gated, nothing is written. */
    val Empty: ReadShape = new ReadShape(0, -1, -1, Array.empty)
  }

  /** The read side of the sink format: varint-framed Row messages off a
    * (decompressing) InputStream, each kept row written straight into
    * one reused `UnsafeRow` of `shape`. The stream is read in large
    * chunks into one frame buffer that grows to the largest frame, and
    * every frame is parsed in place there: memory is bounded by one
    * frame, never the decompressed file (the reference reads partitions
    * lazily the same way, `SSTableIdentityIteratorPatched.java:88-109`).
    *
    *   - Each frame's Row message is validated whole (varint length,
    *     LEN bounds, wire types; the [[MaxFrameBytes]] cap) before its
    *     row is emitted; EOF inside a varint or a frame throws, clean
    *     EOF at a frame boundary ends the rows.
    *   - `keep` is evaluated on the key bytes in place before any
    *     Column message is read: a dropped row copies nothing. Column
    *     messages are parsed only for kept rows of a shape with
    *     `columns`.
    *   - `expectFrames ≥ 0` arms the TRUNCATION GUARD: a zstd stream
    *     cut at a frame boundary ends CLEANLY (the decompressor reports
    *     plain EOF, and if the decoded prefix also ends at a wire-frame
    *     boundary nothing here throws) — silent row loss the validated
    *     decoder alone cannot see. The guard counts every frame walked
    *     and refuses at stream end if the count disagrees.
    *   - `stopAbove`, when set, ends the rows at the first key above it:
    *     a key-sorted stream can hold no kept row past that point.
    *
    * `row` is valid until the next `next()`. Does not close `in`; the
    * caller owns the stream.
    */
  final class RowDecoder(in: java.io.InputStream, shape: ReadShape,
      keep: KeyGate = KeepAll, expectFrames: Long = -1L,
      stopAbove: Array[Byte] = null) {
    private var buf = new Array[Byte](64 << 10)
    private var pos = 0 // the next unwalked byte of buf
    private var lim = 0 // the end of the bytes read into buf
    private var base = 0L // the stream offset of buf(0)
    private var eof = false
    private var done = false
    private var walked = 0L
    private var at = 0 // parse cursor inside the current frame
    // the current frame's key span and Column message spans
    private var keyOff = 0
    private var keyLen = 0
    private var spans = new Array[Int](32)
    private var nSpans = 0
    // the current Column message's fields
    private var nameOff, nameLen, valueOff, valueLen = 0
    private var writeTime = 0L
    private val out = new UnsafeRowWriter(shape.width, 256)
    private val arr = new UnsafeArrayWriter(out, 8)
    private val cell = new UnsafeRowWriter(arr, shape.cellFields.length)

    /** Frames walked so far, kept or not. */
    def frames: Long = walked
    /** Column messages of the current frame. */
    def columns: Int = nSpans
    /** The decoded-stream offset after the current frame. */
    def offset: Long = base + pos
    /** A copy of the current row's key. */
    def key: Array[Byte] = java.util.Arrays.copyOfRange(buf, keyOff, keyOff + keyLen)
    def row: UnsafeRow = out.getRow

    /** Advances to the next kept row; false at the end of the rows. */
    def next(): Boolean = {
      while (!done) {
        if (!frame()) {
          done = true
          if (expectFrames >= 0 && walked != expectFrames)
            throw new java.io.IOException(
              s"truncated stream: decoded $walked of $expectFrames attested " +
                "rows — frame-aligned truncation ends the stream cleanly, " +
                "so only the attested count can refuse it")
        } else {
          walked += 1
          if (stopAbove != null && java.util.Arrays.compareUnsigned(buf, keyOff,
              keyOff + keyLen, stopAbove, 0, stopAbove.length) > 0) done = true
          else if (keep(buf, keyOff, keyLen)) { write(); return true }
        }
      }
      false
    }

    /** Makes `n` bytes from `pos` readable, compacting or growing the
      * buffer first; false when the stream ends before that.
      */
    private def fill(n: Int): Boolean = {
      if (lim - pos >= n) return true
      if (pos + n > buf.length) {
        val to = if (n > buf.length) new Array[Byte](math.max(n,
          math.min(buf.length * 2L, Int.MaxValue - 16L).toInt)) else buf
        System.arraycopy(buf, pos, to, 0, lim - pos)
        base += pos
        lim -= pos
        pos = 0
        buf = to
      }
      while (lim - pos < n && !eof) {
        val got = in.read(buf, lim, buf.length - lim)
        if (got < 0) eof = true else lim += got
      }
      lim - pos >= n
    }

    /** Walks the next frame, validating its Row message and recording
      * its key and Column spans; false at a clean end of stream.
      */
    private def frame(): Boolean = {
      if (!fill(1)) return false
      fill(11) // a varint has at most 10 bytes; an 11th makes it too long
      var p = pos
      var v = 0L
      var sh = 0
      var b = 0
      do {
        if (p >= lim) throw new IllegalArgumentException("EOF inside varint")
        b = buf(p) & 0xFF; p += 1; v |= (b & 0x7FL) << sh; sh += 7
        if (sh > 70) throw new IllegalArgumentException("varint too long")
      } while ((b & 0x80) != 0)
      if (v < 0 || v > MaxFrameBytes)
        throw new IllegalArgumentException(s"bad frame LEN $v")
      val head = p - pos
      if (!fill(head + v.toInt))
        throw new IllegalArgumentException(
          s"truncated frame: expected $v body bytes, got ${lim - pos - head}")
      at = pos + head
      val end = at + v.toInt
      keyOff = at
      keyLen = 0
      nSpans = 0
      while (at < end) {
        val tag = varint(end)
        (tag & 7).toInt match {
          case 2 =>
            val l = len(varint(end), end)
            (tag >> 3).toInt match {
              case 1 => keyOff = at; keyLen = l
              case 2 => span(at, at + l)
              case _ => ()
            }
            at += l
          case 0 => varint(end)
          case 1 => skip(8, end)
          case 5 => skip(4, end)
          case w => throw new IllegalArgumentException(s"field ${(tag >> 3).toInt} wire $w")
        }
      }
      pos = end
      true
    }

    private def span(s: Int, e: Int): Unit = {
      if (2 * nSpans + 2 > spans.length) spans = java.util.Arrays.copyOf(spans, spans.length * 2)
      spans(2 * nSpans) = s
      spans(2 * nSpans + 1) = e
      nSpans += 1
    }

    // every read is bounded by its enclosing scope (`end`): a corrupt
    // field must never consume bytes past its message
    private def varint(end: Int): Long = {
      if (at < end && buf(at) >= 0) { // one byte: every tag, most lengths
        at += 1
        return buf(at - 1).toLong
      }
      var v = 0L; var sh = 0; var b = 0
      do {
        if (at >= end) throw new IllegalArgumentException(s"overrun at ${base + at}")
        b = buf(at) & 0xFF; at += 1; v |= (b & 0x7FL) << sh; sh += 7
        if (sh > 70) throw new IllegalArgumentException(s"varint too long at ${base + at}")
      } while ((b & 0x80) != 0)
      v
    }

    // a corrupt length (negative after truncation, or past the enclosing
    // bound) must throw, not move `at` backwards (an endless loop) or
    // past the message (silent garbage)
    private def len(l: Long, end: Int): Int =
      if (l < 0 || l > end - at) // NB not at+l>end: at+l can overflow
        throw new IllegalArgumentException(s"bad LEN $l at ${base + at}")
      else l.toInt

    private def skip(n: Int, end: Int): Unit =
      if (at + n > end) throw new IllegalArgumentException(s"overrun at ${base + at}")
      else at += n

    /** Parses the Column message buf[s, e) into the current fields. */
    private def column(s: Int, e: Int): Unit = {
      at = s
      nameOff = s; nameLen = 0; valueOff = s; valueLen = 0; writeTime = 0L
      while (at < e) {
        val tag = varint(e)
        ((tag >> 3).toInt, (tag & 7).toInt) match {
          case (1, 2) => nameLen = len(varint(e), e); nameOff = at; at += nameLen
          case (2, 2) => valueLen = len(varint(e), e); valueOff = at; at += valueLen
          case (3, 1) =>
            skip(8, e)
            var v = 0L; var i = 0
            while (i < 8) { v |= (buf(at - 8 + i) & 0xFFL) << (8 * i); i += 1 }
            writeTime = v
          case (_, 2) => val l = len(varint(e), e); at += l
          case (_, 0) => varint(e)
          case (_, 1) => skip(8, e)
          case (_, 5) => skip(4, e)
          case (f, w) => throw new IllegalArgumentException(s"field $f wire $w")
        }
      }
    }

    /** Writes the current (kept) frame as `row`. */
    private def write(): Unit = {
      out.reset()
      out.zeroOutNullBytes()
      if (shape.keyAt >= 0) out.write(shape.keyAt, buf, keyOff, keyLen)
      if (shape.columnsAt >= 0) {
        val start = out.cursor()
        val fields = shape.cellFields
        arr.initialize(nSpans)
        var i = 0
        while (i < nSpans) {
          column(spans(2 * i), spans(2 * i + 1))
          val from = arr.cursor()
          cell.resetRowWriter()
          var j = 0
          while (j < fields.length) {
            fields(j) match {
              case 1 => cell.write(j, buf, nameOff, nameLen)
              case 2 => cell.write(j, buf, valueOff, valueLen)
              case _ => cell.write(j, writeTime)
            }
            j += 1
          }
          arr.setOffsetAndSizeFromPreviousCursor(i, from)
          i += 1
        }
        out.setOffsetAndSizeFromPreviousCursor(shape.columnsAt, start)
      }
    }
  }

  /** Every key of a varint-framed Row stream, in order: the decoder's
    * key-only form.
    */
  def keys(in: java.io.InputStream): Iterator[Array[Byte]] = {
    val frames = new RowDecoder(in, ReadShape.Empty)
    Iterator.continually(frames).takeWhile(_.next()).map(_.key)
  }

  /** One frame per element: (key bytes, column-message (start,end) spans).
    * Shares the validated-LEN discipline of [[decodeRows]].
    */
  private def decodeSpans(buf: Array[Byte]): Iterator[(Array[Byte], Seq[(Int, Int)])] =
    new Iterator[(Array[Byte], Seq[(Int, Int)])] {
      private var pos = 0
      // bounded by the enclosing scope — see RowDecoder
      private def varint(limit: Long): Long = {
        var v = 0L; var sh = 0; var b = 0
        do {
          if (pos >= limit)
            throw new IllegalArgumentException(s"overrun at $pos")
          b = buf(pos) & 0xFF; pos += 1; v |= (b & 0x7FL) << sh; sh += 7
          if (sh > 70) throw new IllegalArgumentException(s"varint too long at $pos")
        } while ((b & 0x80) != 0)
        v
      }
      private def chk(l: Long, end: Long): Int =
        if (l < 0 || l > end - pos)
          throw new IllegalArgumentException(s"bad LEN $l at $pos")
        else l.toInt
      private def skip(n: Int, end: Long): Unit =
        if (pos + n > end)
          throw new IllegalArgumentException(s"overrun at $pos")
        else pos += n
      override def hasNext: Boolean = pos < buf.length
      override def next(): (Array[Byte], Seq[(Int, Int)]) = {
        val frameLen = chk(varint(buf.length), buf.length)
        val end = pos + frameLen
        var key = Array.emptyByteArray
        val spans = Seq.newBuilder[(Int, Int)]
        while (pos < end) {
          val tag = varint(end)
          ((tag >> 3).toInt, (tag & 7).toInt) match {
            case (1, 2) =>
              val l = chk(varint(end), end)
              key = java.util.Arrays.copyOfRange(buf, pos, pos + l)
              pos += l
            case (2, 2) =>
              val l = chk(varint(end), end)
              spans += ((pos, pos + l))
              pos += l
            case (_, 2) => val l = chk(varint(end), end); pos += l
            case (_, 0) => varint(end)
            case (_, 1) => skip(8, end)
            case (_, 5) => skip(4, end)
            case (f, w) => throw new IllegalArgumentException(s"field $f wire $w")
          }
        }
        (key, spans.result())
      }
    }

  /** Decode one Column message from buf[start, end) (a recorded span). */
  private def decodeColumnAt(buf: Array[Byte], start: Int, end: Int): DecodedColumn = {
    var pos = start
    // bounded by the span end — see RowDecoder
    def varint(): Long = {
      var v = 0L; var sh = 0; var b = 0
      do {
        if (pos >= end)
          throw new IllegalArgumentException(s"overrun at $pos")
        b = buf(pos) & 0xFF; pos += 1; v |= (b & 0x7FL) << sh; sh += 7
        if (sh > 70) throw new IllegalArgumentException(s"varint too long at $pos")
      } while ((b & 0x80) != 0)
      v
    }
    def chk(l: Long): Int =
      if (l < 0 || l > end - pos)
        throw new IllegalArgumentException(s"bad LEN $l at $pos")
      else l.toInt
    var name = Array.emptyByteArray
    var value = Array.emptyByteArray
    var wt = 0L
    while (pos < end) {
      val tag = varint()
      ((tag >> 3).toInt, (tag & 7).toInt) match {
        case (1, 2) =>
          val l = chk(varint())
          name = java.util.Arrays.copyOfRange(buf, pos, pos + l); pos += l
        case (2, 2) =>
          val l = chk(varint())
          value = java.util.Arrays.copyOfRange(buf, pos, pos + l); pos += l
        case (3, 1) =>
          if (pos + 8 > end) throw new IllegalArgumentException(s"overrun at $pos")
          var v = 0L; var i = 0
          while (i < 8) { v |= (buf(pos + i) & 0xFFL) << (8 * i); i += 1 }
          pos += 8; wt = v
        case (_, 2) => val l = chk(varint()); pos += l
        case (_, 0) => varint()
        case (_, 1) =>
          if (pos + 8 > end) throw new IllegalArgumentException(s"overrun at $pos")
          pos += 8
        case (_, 5) =>
          if (pos + 4 > end) throw new IllegalArgumentException(s"overrun at $pos")
          pos += 4
        case (f, w) => throw new IllegalArgumentException(s"field $f wire $w")
      }
    }
    DecodedColumn(name, value, wt)
  }

  // ---- Column-API surface ----

  /** `proto_row(key, columns)` — Row message bytes (unframed). */
  def proto_row(key: Column, columns: Column): Column =
    Shim.column(ProtoEncodeRowExpr(Shim.expression(key), Shim.expression(columns)))

  /** `proto_delimited(msg)` — varint-framed message bytes. */
  def proto_delimited(msg: Column): Column =
    Shim.column(VarintDelimitExpr(Shim.expression(msg)))
}

/** Catalyst expression: (key binary, columns array&lt;struct&gt;) → Row
  * message bytes. Stays inside whole-stage codegen by delegating to the
  * static encoder above — no UDF/serialization round trip.
  */
case class ProtoEncodeRowExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  // columns: any array-of-struct with the positional (name, value,
  // write_time) cell layout
  override def inputTypes: Seq[Shim.AbstractType] = Seq(BinaryType, ArrayType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = left.nullable || right.nullable
  override def prettyName: String = "proto_row"

  override protected def nullSafeEval(key: Any, cols: Any): Any =
    ProtoWire.encodeRow(key.asInstanceOf[Array[Byte]], cols.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (k, c) =>
      s"${ev.value} = graft.functions.ProtoWire.encodeRow($k, $c);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Catalyst expression: varint length prefix (writeDelimitedTo framing). */
case class VarintDelimitExpr(child: Expression) extends UnaryExpression
    with ExpectsInputTypes {
  override def inputTypes: Seq[Shim.AbstractType] = Seq(BinaryType)
  override def dataType: DataType = BinaryType
  override def prettyName: String = "proto_delimited"

  override protected def nullSafeEval(msg: Any): Any =
    ProtoWire.delimit(msg.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, m => s"graft.functions.ProtoWire.delimit($m)")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
