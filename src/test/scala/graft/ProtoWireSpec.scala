package graft

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.ProtoWire
import graft.sources.ProtoZstTable

/** Golden-byte tests for the hand-rolled proto3 encoder against the wire
  * format of `/root/reference/src/main/proto/sstable.proto:1-16` —
  * expectations below are hand-decoded per protobuf.dev/programming-guides/
  * encoding (varint, tag = (field << 3) | wireType, LEN = 2, I64 = 1),
  * matching what protobuf-java's generated builders + `writeDelimitedTo`
  * (`Runner.java:118`) emit for the same messages (proto3 default-value
  * fields skipped).
  */
class ProtoWireSpec extends AnyFunSuite {

  private def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray

  test("varint encoding: 1-byte, 2-byte, boundary values") {
    def enc(v: Long): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      ProtoWire.writeVarint(out, v)
      out.toByteArray
    }
    assert(enc(0L).sameElements(b(0x00)))
    assert(enc(1L).sameElements(b(0x01)))
    assert(enc(127L).sameElements(b(0x7F)))
    assert(enc(128L).sameElements(b(0x80, 0x01)))
    assert(enc(300L).sameElements(b(0xAC, 0x02))) // protobuf.dev example
    assert(enc(16383L).sameElements(b(0xFF, 0x7F)))
    assert(enc(16384L).sameElements(b(0x80, 0x80, 0x01)))
  }

  test("varintSize agrees with writeVarint") {
    val probes = (0 to 20).map(1L << _) ++ Seq(0L, 1L, 127L, 128L, 300L,
      16383L, 16384L, Int.MaxValue.toLong, Long.MaxValue)
    for (v <- probes) {
      val out = new java.io.ByteArrayOutputStream()
      ProtoWire.writeVarint(out, v)
      assert(out.size() === ProtoWire.varintSize(v), s"v=$v")
    }
  }

  test("Column message golden bytes (all fields set)") {
    // name="c1", value="v1", writeTime=1000:
    //   0A 02 'c' '1'  | field 1 LEN 2
    //   12 02 'v' '1'  | field 2 LEN 2
    //   19 E8 03 00*6  | field 3 I64, 1000 little-endian
    val expected = b(0x0A, 0x02, 'c', '1', 0x12, 0x02, 'v', '1',
      0x19, 0xE8, 0x03, 0, 0, 0, 0, 0, 0)
    val got = ProtoWire.encodeColumn("c1".getBytes, "v1".getBytes, 1000L)
    assert(got.sameElements(expected))
  }

  test("Column message: proto3 default fields are skipped") {
    // empty name + zero writeTime are omitted, like protobuf-java builders
    val got = ProtoWire.encodeColumn(Array.emptyByteArray, "x".getBytes, 0L)
    assert(got.sameElements(b(0x12, 0x01, 'x')))
  }

  private def cols(rows: (String, String, Long)*): GenericArrayData =
    new GenericArrayData(rows.map { case (n, v, t) =>
      new GenericInternalRow(Array[Any](n.getBytes, v.getBytes, t))
    }.toArray[Any])

  test("Row message golden bytes (key + two columns)") {
    // Row{key="k1", columns=[Column("c1","v1",1000), Column("","x",0)]}
    val expected = b(
      0x0A, 0x02, 'k', '1', // field 1 LEN 2 key
      0x12, 0x11, // field 2 LEN 17: first Column message
      0x0A, 0x02, 'c', '1', 0x12, 0x02, 'v', '1',
      0x19, 0xE8, 0x03, 0, 0, 0, 0, 0, 0,
      0x12, 0x03, // field 2 LEN 3: second Column message
      0x12, 0x01, 'x')
    val got = ProtoWire.encodeRow("k1".getBytes,
      cols(("c1", "v1", 1000L), ("", "x", 0L)))
    assert(got.sameElements(expected))
  }

  test("Row with zero columns encodes key only (empty-partition Row)") {
    // reference emits a key-only Row for live partitions whose cells are
    // all dead (rowMapper after the isLive filter, SSTableReader.java:79-109)
    val got = ProtoWire.encodeRow("k".getBytes, cols())
    assert(got.sameElements(b(0x0A, 0x01, 'k')))
  }

  test("delimit prepends exactly the varint of the length") {
    val msg = Array.fill[Byte](300)(0x41)
    val framed = ProtoWire.delimit(msg)
    assert(framed.length === 302)
    assert(framed(0) === 0xAC.toByte && framed(1) === 0x02.toByte)
    assert(framed.drop(2).sameElements(msg))
  }

  test("decodeStats inverts encode+frame: counts rows and columns") {
    val r1 = ProtoWire.delimit(ProtoWire.encodeRow("k1".getBytes,
      cols(("c1", "v1", 1000L), ("c2", "v2", 2000L))))
    val r2 = ProtoWire.delimit(ProtoWire.encodeRow("k2".getBytes, cols()))
    val r3 = ProtoWire.delimit(ProtoWire.encodeRow("k3".getBytes,
      cols(("c9", "x", 300L))))
    val stream = r1 ++ r2 ++ r3
    assert(ProtoWire.decodeStats(stream) === ((3L, 3L)))
    assert(ProtoWire.decodeStats(Array.emptyByteArray) === ((0L, 0L)))
  }

  test("decoder rejects corrupt lengths: no zero-padding, no backwards pos") {
    // field 1 declares 100 bytes but only 3 remain in the frame
    val truncated = ProtoWire.delimit(b(0x0A, 100, 'a', 'b', 'c'))
    assertThrows[IllegalArgumentException](ProtoWire.decodeRows(truncated).toList)
    assertThrows[IllegalArgumentException](ProtoWire.decodeStats(truncated))
    // LEN varint 4294967293 (low 32 bits = -3): must throw, not loop
    // forever via a negative Int length
    val huge = ProtoWire.delimit(b(0x12, 0xFD, 0xFF, 0xFF, 0xFF, 0x0F))
    assertThrows[IllegalArgumentException](ProtoWire.decodeRows(huge).toList)
    assertThrows[IllegalArgumentException](ProtoWire.decodeStats(huge))
    // truncated fixed64 inside a column submessage
    val shortF64 = ProtoWire.delimit(b(0x12, 0x03, 0x19, 0x01, 0x02))
    assertThrows[IllegalArgumentException](ProtoWire.decodeRows(shortF64).toList)
    // LEN = Long.MaxValue: naive pos+l overflows negative and would
    // pass a `pos+l > end` bound — must still throw
    val maxLen = ProtoWire.delimit(b(0x0A) ++ Array.fill(8)(0xFF.toByte) :+ 0x7F.toByte)
    assertThrows[IllegalArgumentException](ProtoWire.decodeRows(maxLen).toList)
    assertThrows[IllegalArgumentException](ProtoWire.decodeStats(maxLen))
    // an 11-byte varint is malformed regardless of value
    val longVarint = ProtoWire.delimit(b(0x0A) ++ Array.fill(10)(0x80.toByte) :+ 0x01.toByte)
    assertThrows[IllegalArgumentException](ProtoWire.decodeRows(longVarint).toList)
  }

  test("a varint running past the frame end throws, never eats the next frame") {
    // frame of 2 bytes: tag 0x18 (field 3, wiretype 0) + a varint byte
    // whose continuation bit points past the frame — an unbounded
    // reader would consume the NEXT frame's bytes as the value
    val corrupt = b(0x02, 0x18, 0x80)
    val good = ProtoWire.delimit(
      ProtoWire.encodeRow("k".getBytes,
        new GenericArrayData(Array.empty[Any])))
    val buf = corrupt ++ good
    Seq[Array[Byte] => Any](
      ProtoWire.decodeRows(_).toList,
      ProtoWire.decodeStats(_))
      .foreach { dec =>
        val ex = intercept[IllegalArgumentException](dec(buf))
        assert(ex.getMessage.contains("overrun"), ex.getMessage)
      }
    // same for a frame-end-straddling TAG varint
    val badTag = b(0x01, 0x80) ++ good
    assertThrows[IllegalArgumentException](ProtoWire.decodeRows(badTag).toList)
    // and a frame whose trailing varint hits the END OF BUFFER must
    // throw the validated error, not ArrayIndexOutOfBounds
    val tail = b(0x02, 0x18, 0x80)
    val ex = intercept[IllegalArgumentException](ProtoWire.decodeStats(tail))
    assert(ex.getMessage.contains("overrun"), ex.getMessage)
  }

  test("RowDecoder equals buffer decode, frame-at-a-time") {
    val frames = (1 to 50).map { i =>
      ProtoWire.delimit(ProtoWire.encodeRow(s"key$i".getBytes,
        cols((s"n$i", "v" * (i % 7), i.toLong))))
    }
    val buf = frames.reduce(_ ++ _)
    val fromBuf = ProtoWire.decodeRows(buf).toSeq
      .map(RowDecoding.plain(_, ProtoZstTable.Schema))
    val (fromStream, err) = RowDecoding.decode(buf)
    assert(err.isEmpty)
    assert(fromStream.size === fromBuf.size)
    assert(fromStream === fromBuf)
  }

  test("decoders skip unknown fields (forward compatibility)") {
    // a future writer's Row: key "k1", an unknown varint field 3, one
    // Column carrying unknown LEN field 4 and fixed32 field 5 around
    // the known fields, then an unknown I64 field 6 on the Row
    val col = b(
      0x0A, 0x01, 'a', // name = "a"
      0x22, 0x02, 0x7F, 0x7F, // field 4 LEN (unknown)
      0x12, 0x01, 'b', // value = "b"
      0x19, 0x07, 0, 0, 0, 0, 0, 0, 0, // writeTime = 7
      0x2D, 1, 2, 3, 4) // field 5 I32 (unknown)
    val row = b(0x0A, 0x02, 'k', '1') ++ // key = "k1"
      b(0x18, 0x05) ++ // field 3 varint (unknown)
      b(0x12, col.length) ++ col ++ // field 2 = the Column
      b(0x31, 9, 9, 9, 9, 9, 9, 9, 9) // field 6 I64 (unknown)
    val framed = ProtoWire.delimit(row)
    val want = Seq(Seq[Any]("k1".getBytes.toSeq,
      Seq(Seq[Any]("a".getBytes.toSeq, "b".getBytes.toSeq, 7L))))
    assert(ProtoWire.decodeRows(framed).toSeq
      .map(RowDecoding.plain(_, ProtoZstTable.Schema)) === want)
    assert(RowDecoding.decode(framed) === ((want, None)))
  }

  test("RowDecoder: truncated tail throws after the valid prefix") {
    val good = ProtoWire.delimit(ProtoWire.encodeRow("k1".getBytes,
      cols(("a", "b", 7L))))
    val cut = ProtoWire.delimit(ProtoWire.encodeRow("k2".getBytes,
      cols(("c", "d", 8L)))).dropRight(3)
    val d = new ProtoWire.RowDecoder(new java.io.ByteArrayInputStream(good ++ cut),
      ProtoWire.ReadShape(ProtoZstTable.Schema))
    assert(d.next())
    assert(d.row.getBinary(0).sameElements("k1".getBytes))
    intercept[IllegalArgumentException](d.next())
  }

  test("RowDecoder: pushed key predicate skips frames") {
    val buf = (1 to 9).map { i =>
      ProtoWire.delimit(ProtoWire.encodeRow(s"k$i".getBytes,
        cols((s"n$i", "v", i.toLong))))
    }.reduce(_ ++ _)
    val keyOnly = ProtoZstTable.Schema.copy(fields = ProtoZstTable.Schema.fields.take(1))
    val (kept, err) = RowDecoding.decode(buf, keyOnly, (b, off, len) => {
      val k = new String(b, off, len)
      k >= "k3" && k < "k6"
    })
    assert(err.isEmpty)
    // pruned: each row is its key alone, no column ever decoded
    assert(kept === Seq("k3", "k4", "k5").map(k => Seq(k.getBytes.toSeq)))
  }

  test("delimit round-trip: varint prefix decodes back to message length") {
    for (n <- Seq(0, 1, 127, 128, 129, 300, 4999)) {
      val msg = Array.fill[Byte](n)(0x7A)
      val framed = ProtoWire.delimit(msg)
      // decode the varint prefix
      var (v, shift, i) = (0L, 0, 0)
      var done = false
      while (!done) {
        val byte = framed(i) & 0xFF
        v |= (byte & 0x7FL) << shift
        shift += 7; i += 1
        if ((byte & 0x80) == 0) done = true
      }
      assert(v === n)
      assert(framed.length - i === n)
    }
  }
}
