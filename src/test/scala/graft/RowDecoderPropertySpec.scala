package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, InputStream}

import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.ProtoWire
import graft.sources.{FileMeta, ProtoZstInputPartition, ProtoZstReaderFactory, ProtoZstTable, SerializableHadoopConf}

/** The reader's [[ProtoWire.RowDecoder]] against the reference
  * [[ProtoWire.decodeRows]]: the same rows under every pruned read
  * schema for arbitrary wire messages (empty keys, zero columns,
  * unknown and out-of-order fields, values that outgrow the frame
  * buffer, input arriving in arbitrary chunks), the keep gate with
  * pushed filters and a tombstone anti-set, the truncation guard, the
  * point-lookup stop, and every corruption class: the same exception
  * under a strict read and the same valid prefix under salvage.
  */
class RowDecoderPropertySpec extends AnyFunSuite {

  private def check(p: Prop, n: Int = 150): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(res.passed, res.status.toString)
  }

  // ---- wire messages built field by field ----

  private def varint(v: Long): Array[Byte] = {
    val o = new ByteArrayOutputStream()
    ProtoWire.writeVarint(o, v)
    o.toByteArray
  }
  private def lenField(f: Int, b: Array[Byte]): Array[Byte] =
    varint((f << 3) | 2L) ++ varint(b.length.toLong) ++ b
  private def fixed64(f: Int, v: Long): Array[Byte] =
    varint((f << 3) | 1L) ++ Array.tabulate(8)(i => (v >>> (8 * i)).toByte)

  private val genBytes: Gen[Array[Byte]] =
    Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n, Gen.chooseNum(-128, 127))
      .map(_.map(_.toByte).toArray))

  // rarely a value past the decoder's 64 KB starting buffer
  private val genValue: Gen[Array[Byte]] = Gen.frequency(
    30 -> genBytes,
    1 -> Gen.zip(Gen.chooseNum(65 << 10, 90 << 10), Gen.long).map { case (n, seed) =>
      val a = new Array[Byte](n)
      new java.util.Random(seed).nextBytes(a)
      a
    })

  /** A field neither decoder reads: any number with a wire type that
    * is not one of the message's known (field, type) pairs.
    */
  private def genUnknown(known: Set[(Int, Int)]): Gen[Array[Byte]] = for {
    f <- Gen.chooseNum(1, 9)
    w <- Gen.oneOf(0, 1, 2, 5).suchThat(w => !known((f, w)))
    v <- Gen.chooseNum(0L, Long.MaxValue)
    b <- genBytes
  } yield w match {
    case 0 => varint((f << 3).toLong) ++ varint(v)
    case 1 => fixed64(f, v)
    case 2 => lenField(f, b)
    case _ => varint((f << 3) | 5L) ++ Array[Byte](1, 2, 3, 4)
  }

  private def shuffled(parts: List[Array[Byte]]): Gen[Array[Byte]] =
    Gen.long.map(seed => new scala.util.Random(seed).shuffle(parts).flatMap(_.toSeq).toArray)

  /** A Column message: each known field present or not, unknown
    * fields among them, in any order.
    */
  private val genColumn: Gen[Array[Byte]] = for {
    name <- Gen.option(genBytes.map(lenField(1, _)))
    value <- Gen.option(genValue.map(lenField(2, _)))
    wt <- Gen.option(Gen.chooseNum(Long.MinValue, Long.MaxValue).map(fixed64(3, _)))
    unknown <- Gen.chooseNum(0, 2).flatMap(Gen.listOfN(_, genUnknown(Set((1, 2), (2, 2), (3, 1)))))
    msg <- shuffled(name.toList ++ value ++ wt ++ unknown)
  } yield msg

  /** A delimited Row message: the key (possibly absent or empty) and
    * unknown fields anywhere among its Column fields, which keep their
    * order.
    */
  private val genFrame: Gen[Array[Byte]] = for {
    key <- Gen.option(genBytes)
    cols <- Gen.chooseNum(0, 5).flatMap(Gen.listOfN(_, genColumn))
    unknown <- Gen.chooseNum(0, 2).flatMap(Gen.listOfN(_, genUnknown(Set((1, 2), (2, 2)))))
    extras = key.map(lenField(1, _)).toList ++ unknown
    at <- Gen.listOfN(extras.length, Gen.chooseNum(0, cols.length))
  } yield {
    val body = cols.map(lenField(2, _)).zipWithIndex.flatMap { case (c, i) =>
      extras.zip(at).collect { case (e, j) if j == i => e } :+ c
    } ++ extras.zip(at).collect { case (e, j) if j == cols.length => e }
    ProtoWire.delimit(body.flatMap(_.toSeq).toArray)
  }

  private val genStream: Gen[Array[Byte]] =
    Gen.chooseNum(0, 6).flatMap(Gen.listOfN(_, genFrame)).map(_.flatMap(_.toSeq).toArray)

  /** `bytes` delivered at most `chunk` bytes per read. */
  private final class Trickle(bytes: Array[Byte], chunk: Int) extends InputStream {
    private val in = new ByteArrayInputStream(bytes)
    override def read(): Int = in.read()
    override def read(b: Array[Byte], off: Int, len: Int): Int =
      in.read(b, off, math.min(len, chunk))
  }

  // ---- every read schema Spark can prune the table to ----

  private val cellFields = Seq(StructField("name", BinaryType),
    StructField("value", BinaryType), StructField("write_time", LongType))
  private val keyField = StructField("key", BinaryType)
  private val schemas: Seq[StructType] = {
    val inners = (0 to 3).flatMap(cellFields.combinations(_).flatMap(_.permutations))
    val cols = inners.map(i => StructField("columns", ArrayType(StructType(i))))
    Seq(StructType(Nil), StructType(Seq(keyField))) ++ cols.flatMap(c => Seq(
      StructType(Seq(c)), StructType(Seq(keyField, c)), StructType(Seq(c, keyField))))
  }

  test("the decoder equals decodeRows on arbitrary messages under every pruned schema") {
    assert(schemas.length === 50)
    check(Prop.forAllNoShrink(genStream, Gen.chooseNum(1, 70000)) { (bytes, chunk) =>
      val ref = RowDecoding.reference(bytes)
      (ref._2.isEmpty :| s"reference failed: ${ref._2}") && Prop.all(schemas.map { s =>
        val want = RowDecoding.reference(bytes, s)
        val got = new ProtoWire.RowDecoder(new Trickle(bytes, chunk), ProtoWire.ReadShape(s))
        val rows = Iterator.continually(got).takeWhile(_.next())
          .map(d => RowDecoding.plain(d.row, s)).toList
        (rows == want._1) :| s"schema ${s.simpleString}"
      }: _*)
    })
  }

  // ---- files through the reader factory ----

  private lazy val conf = new SerializableHadoopConf(new org.apache.hadoop.conf.Configuration())

  /** `bytes` zstd-compressed into a fresh file, planned as one whole
    * file of `count` attested rows.
    */
  private def file(bytes: Array[Byte], count: Long): FileMeta = {
    val f = java.io.File.createTempFile("graft_decoder", ".proto.zst")
    f.deleteOnExit()
    val z = new com.github.luben.zstd.ZstdOutputStream(new java.io.FileOutputStream(f))
    try z.write(bytes) finally z.close()
    FileMeta(f.getAbsolutePath, f.length, count, sorted = false, None, None)
  }

  /** The rows a factory reads from `meta`, and what it threw. */
  private def read(meta: FileMeta, ignoreCorrupt: Boolean = false,
      filters: Array[Filter] = Array.empty,
      deleted: Seq[Array[Byte]] = Nil): (Seq[Seq[Any]], Option[Throwable]) = {
    val anti = deleted.distinctBy(_.toSeq).sortWith(java.util.Arrays.compareUnsigned(_, _) < 0)
    val r = new ProtoZstReaderFactory(ignoreCorrupt, ProtoZstTable.Schema, filters,
      conf, anti.toArray).createReader(ProtoZstInputPartition(meta))
    val out = Seq.newBuilder[Seq[Any]]
    try {
      while (r.next()) out += RowDecoding.plain(r.get(), ProtoZstTable.Schema)
      (out.result(), None)
    } catch { case e: Exception => (out.result(), Some(e)) }
    finally r.close()
  }

  private def frameOf(key: Array[Byte], cells: Int): Array[Byte] =
    ProtoWire.delimit(lenField(1, key) ++ (0 until cells).flatMap(i =>
      lenField(2, lenField(1, s"c$i".getBytes) ++ lenField(2, s"v$i".getBytes) ++ fixed64(3, i + 1L))))

  private val keys: Seq[Array[Byte]] = Seq("", "a", "ab", "b", "k", "zz")
    .map(_.getBytes) ++ Seq(Array(0x7F.toByte), Array(0x80.toByte), Array(0xFF.toByte, 0))
  private val genKey: Gen[Array[Byte]] = Gen.oneOf(keys)

  private val genFilter: Gen[Filter] = {
    val leaf: Gen[Filter] = Gen.oneOf(
      genKey.map(EqualTo("key", _)), genKey.map(GreaterThan("key", _)),
      genKey.map(GreaterThanOrEqual("key", _)), genKey.map(LessThan("key", _)),
      genKey.map(LessThanOrEqual("key", _)), Gen.const(IsNotNull("key")),
      Gen.listOf(genKey).map(ks => In("key", ks.toArray[Any])))
    def tree(d: Int): Gen[Filter] =
      if (d == 0) leaf
      else Gen.frequency(3 -> leaf,
        1 -> Gen.zip(tree(d - 1), tree(d - 1)).map { case (l, r) => And(l, r) },
        1 -> Gen.zip(tree(d - 1), tree(d - 1)).map { case (l, r) => Or(l, r) },
        1 -> tree(d - 1).map(Not(_)))
    tree(2)
  }

  /** Filter semantics on whole keys, written out independently. */
  private def holds(f: Filter, k: Array[Byte]): Boolean = {
    def cmp(v: Any) = java.util.Arrays.compareUnsigned(k, v.asInstanceOf[Array[Byte]])
    f match {
      case EqualTo(_, v) => cmp(v) == 0
      case GreaterThan(_, v) => cmp(v) > 0
      case GreaterThanOrEqual(_, v) => cmp(v) >= 0
      case LessThan(_, v) => cmp(v) < 0
      case LessThanOrEqual(_, v) => cmp(v) <= 0
      case In(_, vs) => vs.exists(cmp(_) == 0)
      case IsNotNull(_) => true
      case And(l, r) => holds(l, k) && holds(r, k)
      case Or(l, r) => holds(l, k) || holds(r, k)
      case Not(c) => !holds(c, k)
      case other => sys.error(s"no generator makes $other")
    }
  }

  test("the keep gate applies pushed filters and the tombstone anti-set on the key bytes") {
    val gen = for {
      rows <- Gen.listOf(Gen.zip(genKey, Gen.chooseNum(0, 3)))
      filters <- Gen.chooseNum(0, 2).flatMap(Gen.listOfN(_, genFilter))
      deleted <- Gen.listOf(genKey)
    } yield (rows, filters, deleted)
    check(Prop.forAllNoShrink(gen) { case (rows, filters, deleted) =>
      val bytes = rows.flatMap { case (k, n) => frameOf(k, n).toSeq }.toArray
      val gone = deleted.map(_.toSeq).toSet
      val want = RowDecoding.reference(bytes, keep = k =>
        filters.forall(holds(_, k)) && !gone(k.toSeq))
      val got = read(file(bytes, rows.length.toLong), filters = filters.toArray,
        deleted = deleted)
      (got == want) :| s"$filters minus ${deleted.map(_.toSeq)}: $got != $want"
    }, 100)
  }

  test("a dropped row's Column messages are never parsed") {
    // the second row's only Column carries wire type 7: decoding it throws
    val bad = ProtoWire.delimit(lenField(1, "b".getBytes) ++ lenField(2, Array[Byte](0x0F, 0)))
    val bytes = frameOf("a".getBytes, 1) ++ bad ++ frameOf("c".getBytes, 2)
    val meta = file(bytes, 3L)
    assert(read(meta)._2.exists(_.isInstanceOf[IllegalArgumentException]))
    val (rows, err) = read(meta, filters = Array(Not(EqualTo("key", "b".getBytes))))
    assert(err.isEmpty && rows.map(_.head) === Seq("a", "c").map(_.getBytes.toSeq))
    assert(read(meta, deleted = Seq("b".getBytes)) === ((rows, None)))
  }

  test("the truncation guard refuses any row count but the attested one") {
    check(Prop.forAllNoShrink(Gen.chooseNum(0, 6).flatMap(Gen.listOfN(_, genFrame)), Gen.chooseNum(-3, 3)) {
      (frames, off) =>
        val bytes = frames.flatMap(_.toSeq).toArray
        val all = RowDecoding.reference(bytes)._1
        val attested = math.max(0L, frames.length.toLong + off)
        val (rows, err) = read(file(bytes, attested))
        // the guard runs at stream end: every row is read first
        (rows == all) :| "rows" && (if (attested == frames.length) err.isEmpty else
          err.exists(e => e.isInstanceOf[java.io.IOException] &&
            e.getMessage.contains(s"decoded ${frames.length} of $attested")))
    }, 60)
  }

  test("a key-sorted read stops at the first key past the largest candidate") {
    val sorted = (0 until 40).map(i => f"k$i%02d".getBytes)
    val bytes = sorted.flatMap(frameOf(_, 1).toSeq).toArray
    check(Prop.forAllNoShrink(Gen.chooseNum(0, 39), Gen.listOf(Gen.chooseNum(0, 39))) { (last, more) =>
      val want = (more :+ last).filter(_ <= last).distinct.sorted
      val keep = want.map(sorted(_).toSeq).toSet
      val d = new ProtoWire.RowDecoder(new ByteArrayInputStream(bytes),
        ProtoWire.ReadShape(ProtoZstTable.Schema),
        (b, off, len) => keep(b.slice(off, off + len).toSeq), stopAbove = sorted(last))
      val got = Iterator.continually(d).takeWhile(_.next()).map(_.key.toSeq).toList
      (got == want.map(sorted(_).toSeq)) :| "rows" &&
        (d.frames == math.min(last + 2, 40).toLong) :| s"walked ${d.frames}"
    }, 60)
  }

  /** One stream per corruption class the decoder validates, each cut
    * into otherwise intact rows; a class named "EOF" ends the stream.
    */
  private val corrupt: Seq[(String, Array[Byte])] = {
    def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    Seq(
      "varint too long" -> (Array.fill(10)(0x80.toByte) :+ 1.toByte),
      "EOF inside a varint" -> b(0x80),
      "EOF inside a frame" -> frameOf("x".getBytes, 2).dropRight(3),
      "frame LEN over the cap" -> (varint(1L << 29) ++ Array.fill(64)(0.toByte)),
      "negative frame LEN" -> (Array.fill(9)(0xFF.toByte) :+ 0x01.toByte),
      "bad LEN" -> ProtoWire.delimit(b(0x0A, 100, 'a', 'b', 'c')),
      "LEN overflowing the position" -> ProtoWire.delimit(
        b(0x0A) ++ Array.fill(8)(0xFF.toByte) :+ 0x7F.toByte),
      "varint overrunning its frame" -> b(0x02, 0x18, 0x80),
      "short fixed64 in a Column" -> ProtoWire.delimit(b(0x12, 0x03, 0x19, 0x01, 0x02)),
      "unknown wire type" -> ProtoWire.delimit(b(0x0A, 0x01, 'k', 0x0B)),
      "unknown wire type in a Column" -> ProtoWire.delimit(b(0x0A, 0x01, 'k', 0x12, 0x02, 0x0F, 0)))
  }

  test("every corruption class: the same exception strict, the same valid prefix salvaged") {
    check(Prop.forAllNoShrink(Gen.chooseNum(0, 4).flatMap(Gen.listOfN(_, genFrame)),
        Gen.chooseNum(0, 3).flatMap(Gen.listOfN(_, genFrame)), Gen.oneOf(corrupt)) {
      case (before, after, (what, damage)) =>
        val tail = if (what.startsWith("EOF")) Nil else after.flatMap(_.toSeq)
        val bytes = (before.flatMap(_.toSeq) ++ damage ++ tail).toArray
        val (want, refErr) = RowDecoding.reference(bytes)
        val (got, err) = RowDecoding.decode(bytes)
        val meta = file(bytes, -1L)
        val (strict, strictErr) = read(meta)
        val (salvaged, salvageErr) = read(meta, ignoreCorrupt = true)
        val cls = refErr.map(_.getClass)
        (cls.contains(classOf[IllegalArgumentException]) :| s"$what: reference $refErr") &&
          (want.length == before.length) :| s"$what: reference prefix" &&
          (got == want && err.map(_.getClass) == cls) :| s"$what: decoder $err" &&
          (strict == want && strictErr.map(_.getClass) == cls) :| s"$what: strict $strictErr" &&
          (salvaged == want && salvageErr.isEmpty) :| s"$what: salvage $salvageErr"
    }, 120)
  }
}
