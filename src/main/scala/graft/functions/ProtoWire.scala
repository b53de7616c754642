package graft.functions

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Shim
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType}

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
    val (rows, cols, _, err) = walkFrames(buf)
    err.foreach(throw _)
    (rows, cols)
  }

  /** SALVAGE decode of a varint-framed Row stream: like [[decodeStats]]
    * but never throws on corruption — counts the COMPLETE frames before
    * the first bad byte and reports where the good data ends. Returns
    * (rows, columns, byte offset in the decoded stream after the last
    * complete frame, clean): `clean` ⟺ the whole buffer parsed as
    * complete frames; a partial/garbled tail yields the counts of
    * everything before it. The reference's read path marks a file it
    * cannot parse SUSPECT and keeps serving the rest
    * (`SSTableReaderPatched.java:248-253` markSuspect) — this is that
    * verdict's parsing half.
    */
  def salvageStats(buf: Array[Byte]): (Long, Long, Long, Boolean) = {
    val (rows, cols, lastGood, err) = walkFrames(buf)
    (rows, cols, lastGood, err.isEmpty)
  }

  /** The one validated frame walk behind [[decodeStats]] and
    * [[salvageStats]]: (complete frames, their Column messages, byte
    * offset after the last complete frame, the error that stopped the
    * walk if any). Only a frame that parses COMPLETELY counts.
    */
  private def walkFrames(
      buf: Array[Byte]): (Long, Long, Long, Option[RuntimeException]) = {
    var pos = 0
    var rows = 0L
    var cols = 0L
    var lastGood = 0L
    // every varint read is bounded by its enclosing scope (`limit`):
    // a corrupt frame must never consume bytes of the NEXT frame, and
    // truncation surfaces as the validated IllegalArgumentException,
    // not an ArrayIndexOutOfBounds at the buffer edge
    def varint(limit: Long): Long = {
      var v = 0L; var sh = 0; var b = 0
      do {
        if (pos >= limit)
          throw new IllegalArgumentException(s"overrun at $pos")
        b = buf(pos) & 0xFF; pos += 1; v |= (b & 0x7FL) << sh; sh += 7
        if (sh > 70) throw new IllegalArgumentException(s"varint too long at $pos")
      } while ((b & 0x80) != 0)
      v
    }
    // validated LEN: a corrupt length (negative after truncation, or
    // overrunning the enclosing bound) must THROW, not move pos
    // backwards (infinite loop) or run past the frame (silent garbage)
    def chk(l: Long, end: Long): Int =
      if (l < 0 || l > end - pos) // NB not pos+l>end: pos+l can overflow
        throw new IllegalArgumentException(s"bad LEN $l at $pos")
      else l.toInt
    def skip(n: Int, end: Long): Unit =
      if (pos + n > end)
        throw new IllegalArgumentException(s"overrun at $pos")
      else pos += n
    try {
      while (pos < buf.length) {
        val frameLen = chk(varint(buf.length), buf.length) // len BEFORE pos
        val end = pos + frameLen
        var frameCols = 0L
        while (pos < end) {
          val tag = varint(end)
          (tag & 7).toInt match {
            case 2 =>
              val l = chk(varint(end), end)
              if ((tag >> 3).toInt == 2) frameCols += 1
              pos += l
            case 0 => varint(end)
            case 1 => skip(8, end)
            case 5 => skip(4, end)
            case wt => throw new IllegalArgumentException(s"wire type $wt")
          }
        }
        rows += 1
        cols += frameCols
        lastGood = pos
      }
      (rows, cols, lastGood, None)
    } catch {
      case e: IllegalArgumentException => (rows, cols, lastGood, Some(e))
      case e: ArrayIndexOutOfBoundsException => (rows, cols, lastGood, Some(e))
    }
  }

  /** STREAMING salvage walk: [[salvageStats]] semantics over a
    * (decompressing) InputStream with memory bounded by ONE frame —
    * the salvage-side twin of [[decodeStream]]. Frames are fetched by
    * [[framedMessages]] (so the prefix/LEN/EOF discipline is the same
    * code the strict reader runs) and each is validated by the
    * single-frame [[salvageStats]] kernel; complete frames count, the
    * first bad byte — whether a garbled varint, a truncated body, a
    * wire-type error inside the frame, or the decompressor itself
    * throwing mid-stream — ends the walk with everything before it
    * preserved. `lastGood` is the offset in the DECODED stream after
    * the last complete frame, identical to the buffered walk's.
    *
    * This exists because the buffered path (drain-to-array, then
    * walk) hands ONE task a contiguous heap array the size of the
    * whole decoded file: the oversized legacy files salvage exists to
    * rescue are exactly the ones that make that allocation impossible
    * (a >2 GiB decoded file cannot even BE a JVM array). The stream
    * walk's high-water memory is one frame (≤ [[MaxFrameBytes]]).
    * Does not close `in`; the caller owns the stream.
    */
  def salvageStatsStream(in: java.io.InputStream): (Long, Long, Long, Boolean) = {
    var rows = 0L
    var cols = 0L
    var lastGood = 0L
    try {
      val frames = framedMessages(in)
      var clean = true
      while (clean && frames.hasNext) {
        val f = frames.next()
        // each element is a valid single-frame stream including its
        // varint prefix, so the buffer kernel validates it verbatim
        val (r, c, _, ok) = salvageStats(f)
        if (ok && r == 1L) {
          rows += 1; cols += c; lastGood += f.length
        } else clean = false
      }
      (rows, cols, lastGood, clean)
    } catch {
      // framedMessages throws on truncation/garbage; a damaged zstd
      // stream throws from read() mid-frame — either way the frames
      // already walked stand and the verdict is not-clean
      case _: Exception => (rows, cols, lastGood, false)
    }
  }

  /** One decoded Column message. */
  final case class DecodedColumn(name: Array[Byte], value: Array[Byte],
      writeTime: Long)

  /** One decoded Row message. */
  final case class DecodedRow(key: Array[Byte], columns: Seq[DecodedColumn])

  /** Full decode of a varint-framed Row stream (inverse of
    * `proto_delimited(proto_row(...))`) — the read side of the sink
    * format, used by the proto-zst DSv2 source.
    */
  def decodeRows(buf: Array[Byte]): Iterator[DecodedRow] =
    decodeRowsPruned(buf, wantColumns = true, _ => true)

  /** Pruned + filtered decode for the DSv2 source — the engine analog of
    * the reference's index-assisted key seek
    * (`SSTableScannerPatched.java:56-93`): each frame's key is parsed
    * first and `keep` evaluated on the raw key bytes; Column messages
    * are decoded ONLY for kept frames, and only when `wantColumns` —
    * dropped or key-only frames are skipped by advancing the cursor,
    * never allocating a cell. Field order inside a frame is arbitrary
    * (protobuf allows it): column spans are recorded as offsets during
    * the single pass and materialised after the keep decision.
    */
  def decodeRowsPruned(buf: Array[Byte], wantColumns: Boolean,
      keep: Array[Byte] => Boolean): Iterator[DecodedRow] =
    new Iterator[DecodedRow] {
      private val full = decodeSpans(buf)
      private var pending: DecodedRow = _
      // scan happens lazily in hasNext, so corruption in frame N+1
      // surfaces AFTER frame N was delivered — the salvage wrapper then
      // keeps the whole valid prefix
      override def hasNext: Boolean = {
        while (pending == null && full.hasNext) {
          val (key, spans) = full.next()
          if (keep(key)) {
            val cols =
              if (wantColumns) spans.map { case (s, e) => decodeColumnAt(buf, s, e) }
              else Seq.empty
            pending = DecodedRow(key, cols)
          }
        }
        pending != null
      }
      override def next(): DecodedRow = {
        if (!hasNext) throw new NoSuchElementException("end of frames")
        val r = pending
        pending = null
        r
      }
    }

  /** Upper bound on a single frame (one Row message). The writer frames
    * one Row per partition key, so this caps tolerated partition size,
    * not file size — a corrupt varint claiming an absurd length must
    * throw instead of driving a giant allocation.
    */
  private val MaxFrameBytes: Int = 1 << 28 // 256 MiB

  /** Streaming decode over a (decompressing) InputStream: memory is
    * bounded by ONE message, not the whole file — the reader-side fix
    * for the scale wart of buffering an entire decompressed file. Each
    * frame is handed to [[decodeRowsPruned]], so the byte-level decode
    * (and its corruption discipline) is the same code the buffer path
    * runs. Does not close `in`; the caller owns the stream.
    */
  /** `expectFrames ≥ 0` arms the TRUNCATION GUARD: a zstd stream cut
    * at a frame boundary ends CLEANLY (the decompressor reports plain
    * EOF, and if the decoded prefix also ends at a wire-frame boundary
    * nothing below throws) — silent row loss the validated decoder
    * alone cannot see. Only the attested row count can catch it: the
    * guard counts every wire frame walked and refuses at stream end if
    * the count disagrees. −1 (the default) disables the check (slices,
    * foreign files without an attested count).
    */
  def decodeStream(in: java.io.InputStream, wantColumns: Boolean,
      keep: Array[Byte] => Boolean,
      expectFrames: Long = -1L): Iterator[DecodedRow] = {
    val frames = framedMessages(in)
    val counted: Iterator[Array[Byte]] =
      if (expectFrames < 0) frames
      else new Iterator[Array[Byte]] {
        private var n = 0L
        override def hasNext: Boolean = {
          val h = frames.hasNext
          if (!h && n != expectFrames)
            throw new java.io.IOException(
              s"truncated stream: decoded $n of $expectFrames attested " +
                "rows — frame-aligned truncation ends the stream cleanly, " +
                "so only the attested count can refuse it")
          h
        }
        override def next(): Array[Byte] = {
          val f = frames.next(); n += 1; f
        }
      }
    counted.flatMap(decodeRowsPruned(_, wantColumns, keep))
  }

  /** One varint-framed message per element, INCLUDING its varint prefix,
    * so each element is itself a valid single-frame stream for the
    * buffer decoders. Clean EOF at a frame boundary ends the iterator;
    * EOF inside a varint or frame body throws (the salvage wrapper in
    * the DSv2 reader turns that into keep-the-valid-prefix).
    */
  def framedMessages(in: java.io.InputStream): Iterator[Array[Byte]] =
    new Iterator[Array[Byte]] {
      private var pending: Array[Byte] = _
      private var done = false
      private def fetch(): Unit = {
        if (pending != null || done) return
        var b = in.read()
        if (b < 0) { done = true; return }
        val prefix = new scala.collection.mutable.ArrayBuffer[Byte](10)
        var v = 0L
        var sh = 0
        var more = true
        while (more) {
          prefix += b.toByte
          v |= (b & 0x7FL) << sh
          sh += 7
          if (sh > 70) throw new IllegalArgumentException("varint too long")
          if ((b & 0x80) == 0) more = false
          else {
            b = in.read()
            if (b < 0) throw new IllegalArgumentException("EOF inside varint")
          }
        }
        if (v < 0 || v > MaxFrameBytes)
          throw new IllegalArgumentException(s"bad frame LEN $v")
        val frame = new Array[Byte](prefix.length + v.toInt)
        var i = 0
        while (i < prefix.length) { frame(i) = prefix(i); i += 1 }
        val got = in.readNBytes(frame, prefix.length, v.toInt)
        if (got < v.toInt)
          throw new IllegalArgumentException(
            s"truncated frame: expected $v body bytes, got $got")
        pending = frame
      }
      override def hasNext: Boolean = { fetch(); pending != null }
      override def next(): Array[Byte] = {
        if (!hasNext) throw new NoSuchElementException("end of stream")
        val r = pending
        pending = null
        r
      }
    }

  /** One frame per element: (key bytes, column-message (start,end) spans).
    * Shares the validated-LEN discipline of [[decodeRows]].
    */
  private def decodeSpans(buf: Array[Byte]): Iterator[(Array[Byte], Seq[(Int, Int)])] =
    new Iterator[(Array[Byte], Seq[(Int, Int)])] {
      private var pos = 0
      // bounded by the enclosing scope — see decodeStats
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
    // bounded by the span end — see decodeStats
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
