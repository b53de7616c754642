package graft

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.ProtoWire

/** Property-based round trip: encode → frame → decode must be the
  * identity for arbitrary rows, including the edge cases proto3
  * default-skipping creates (empty keys/names/values, zero timestamps,
  * zero columns, >127-byte frames that need multi-byte varints), and
  * the encoder's bytes against the encoder it replaced.
  */
class ProtoWirePropertySpec extends AnyFunSuite {

  private val genBytes: Gen[Array[Byte]] =
    Gen.chooseNum(0, 40).flatMap(n => Gen.listOfN(n, Gen.chooseNum(-128, 127))
      .map(_.map(_.toByte).toArray))

  private val genCol: Gen[(Array[Byte], Array[Byte], Long)] = for {
    n <- genBytes; v <- genBytes
    t <- Gen.oneOf(Gen.const(0L), Gen.chooseNum(0L, Long.MaxValue))
  } yield (n, v, t)

  private val genRow: Gen[(Array[Byte], List[(Array[Byte], Array[Byte], Long)])] =
    for {
      k <- genBytes
      cols <- Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n, genCol))
    } yield (k, cols)

  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), p)
    assert(res.passed, res.status.toString)
  }

  test("decodeRows inverts encodeRow+delimit for arbitrary row streams") {
    check(Prop.forAll(Gen.listOfN(5, genRow)) { rows =>
      val stream = rows.flatMap { case (k, cols) =>
        val ad = new GenericArrayData(cols.map { case (n, v, t) =>
          new GenericInternalRow(Array[Any](n, v, t))
        }.toArray[Any])
        ProtoWire.delimit(ProtoWire.encodeRow(k, ad)).toSeq
      }.toArray
      val decoded = ProtoWire.decodeRows(stream).toList
      decoded.length == rows.length && decoded.zip(rows).forall {
        case (d, (k, cols)) =>
          d.key.sameElements(k) &&
            d.columns.length == cols.length &&
            d.columns.zip(cols).forall { case (dc, (n, v, t)) =>
              dc.name.sameElements(n) && dc.value.sameElements(v) &&
                dc.writeTime == t
            }
      }
    })
  }

  test("decodeStats agrees with decodeRows on arbitrary streams") {
    check(Prop.forAll(Gen.listOfN(6, genRow)) { rows =>
      val stream = rows.flatMap { case (k, cols) =>
        val ad = new GenericArrayData(cols.map { case (n, v, t) =>
          new GenericInternalRow(Array[Any](n, v, t))
        }.toArray[Any])
        ProtoWire.delimit(ProtoWire.encodeRow(k, ad)).toSeq
      }.toArray
      val (nr, nc) = ProtoWire.decodeStats(stream)
      nr == rows.length && nc == rows.map(_._2.length).sum
    })
  }

  test("salvageStatsStream: ANY truncation keeps exactly the complete-frame prefix") {
    // the q251 salvage kernel's whole contract, fuzzed: for an
    // arbitrary frame stream cut at an ARBITRARY byte position —
    // mid-varint, mid-body, or exactly on a boundary — the walk must
    // report precisely the frames wholly before the cut, a good-bytes
    // watermark equal to their span, and clean ⟺ the cut fell on a
    // frame boundary. QuarantineSpec pins crafted cases; this sweeps
    // the space (multi-byte varint prefixes, empty frames, 0-length
    // keys/columns that proto3 default-skipping produces).
    val genStream: Gen[List[(Array[Byte], List[(Array[Byte], Array[Byte], Long)])]] =
      Gen.chooseNum(0, 7).flatMap(n => Gen.listOfN(n, genRow))
    val gen = for {
      rows <- genStream
      frames = rows.map { case (k, cols) =>
        val ad = new GenericArrayData(cols.map { case (n, v, t) =>
          new GenericInternalRow(Array[Any](n, v, t))
        }.toArray[Any])
        ProtoWire.delimit(ProtoWire.encodeRow(k, ad))
      }
      total = frames.map(_.length).sum
      // half the cuts land exactly on boundaries (the frame-aligned
      // truncation a clean zstd EOF produces), half anywhere
      cut <- Gen.oneOf(
        Gen.oneOf(0 +: frames.scanLeft(0)(_ + _.length).drop(1)),
        Gen.chooseNum(0, total))
    } yield (rows, frames, cut)
    check(Prop.forAll(gen) { case (rows, frames, cut) =>
      val bytes = frames.flatMap(_.toSeq).toArray.take(cut)
      val (nr, nc, lastGood, clean) = ProtoWire.salvageStatsStream(
        new java.io.ByteArrayInputStream(bytes))
      val spans = frames.scanLeft(0)(_ + _.length)
      val keep = spans.tail.count(_ <= cut) // frames wholly before the cut
      (nr == keep.toLong) :| s"rows $nr != $keep" &&
        (nc == rows.take(keep).map(_._2.length).sum.toLong) :| "cols" &&
        (lastGood == spans(keep).toLong) :| s"watermark $lastGood != ${spans(keep)}" &&
        (clean == (spans(keep) == cut)) :| s"clean $clean at cut $cut"
    })
  }

  /** The encoder before the single-pass rewrite, verbatim in behaviour:
    * per-byte `ByteArrayOutputStream` writes, one temporary array per
    * column, and `delimit` as a copy.
    */
  private object Legacy {
    import java.io.ByteArrayOutputStream
    def writeVarint(out: ByteArrayOutputStream, v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7FL) != 0L) { out.write(((v & 0x7F) | 0x80).toInt); v >>>= 7 }
      out.write(v.toInt)
    }
    private def writeLenField(out: ByteArrayOutputStream, field: Int, bytes: Array[Byte]): Unit =
      if (bytes != null && bytes.length > 0) {
        out.write((field << 3) | 2)
        writeVarint(out, bytes.length.toLong)
        out.write(bytes, 0, bytes.length)
      }
    private def writeFixed64(out: ByteArrayOutputStream, field: Int, v: Long): Unit =
      if (v != 0L) {
        out.write((field << 3) | 1)
        var i = 0
        while (i < 8) { out.write(((v >>> (8 * i)) & 0xFF).toInt); i += 1 }
      }
    def encodeColumn(name: Array[Byte], value: Array[Byte], writeTime: Long): Array[Byte] = {
      val out = new ByteArrayOutputStream(32)
      writeLenField(out, 1, name)
      writeLenField(out, 2, value)
      writeFixed64(out, 3, writeTime)
      out.toByteArray
    }
    def encodeRow(key: Array[Byte], columns: org.apache.spark.sql.catalyst.util.ArrayData): Array[Byte] = {
      val out = new ByteArrayOutputStream(64)
      writeLenField(out, 1, key)
      if (columns != null) {
        var i = 0
        while (i < columns.numElements()) {
          val r = columns.getStruct(i, 3)
          val col = encodeColumn(
            if (r.isNullAt(0)) null else r.getBinary(0),
            if (r.isNullAt(1)) null else r.getBinary(1),
            if (r.isNullAt(2)) 0L else r.getLong(2))
          out.write((2 << 3) | 2)
          writeVarint(out, col.length.toLong)
          out.write(col, 0, col.length)
          i += 1
        }
      }
      out.toByteArray
    }
    def delimit(msg: Array[Byte]): Array[Byte] = {
      val out = new ByteArrayOutputStream(msg.length + 5)
      writeVarint(out, msg.length.toLong)
      out.write(msg, 0, msg.length)
      out.toByteArray
    }
  }

  test("the single-pass encoder writes the legacy encoder's bytes") {
    // lengths on both sides of the 1/2/3-byte varint boundaries, for
    // fields, Column messages and whole frames; null and empty fields;
    // zero, negative and null write times; null keys and column lists
    val genLen: Gen[Int] = Gen.frequency(
      4 -> Gen.chooseNum(0, 8),
      2 -> Gen.oneOf(125, 126, 127, 128, 129),
      1 -> Gen.oneOf(16380, 16381, 16382, 16383, 16384, 16385))
    val genField: Gen[Array[Byte]] = Gen.frequency(
      1 -> Gen.const(null),
      1 -> Gen.const(Array.emptyByteArray),
      6 -> genLen.map(n => Array.tabulate(n)(i => (i * 31).toByte)))
    val genTime: Gen[Any] = Gen.oneOf(Gen.const(null), Gen.const(0L),
      Gen.chooseNum(Long.MinValue, -1L), Gen.chooseNum(1L, Long.MaxValue))
    val genCell = for { n <- genField; v <- genField; t <- genTime }
      yield new GenericInternalRow(Array[Any](n, v, t))
    val gen = for {
      k <- genField
      cells <- Gen.chooseNum(0, 6).flatMap(Gen.listOfN(_, genCell))
      nullCols <- Gen.frequency(9 -> false, 1 -> true)
    } yield (k, if (nullCols) null else new GenericArrayData(cells.toArray[Any]))
    check(Prop.forAll(gen) { case (k, cols) =>
      val legacy = Legacy.encodeRow(k, cols)
      (ProtoWire.encodeRow(k, cols) sameElements legacy) :| "encodeRow" &&
        (ProtoWire.delimit(legacy) sameElements Legacy.delimit(legacy)) :| "delimit" &&
        (ProtoWire.encodeDelimited(k, cols) sameElements Legacy.delimit(legacy)) :| "encodeDelimited"
    })
  }
}
