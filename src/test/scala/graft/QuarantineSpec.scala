package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.ProtoWire
import graft.operators.Quarantine
import graft.sources.ProtoZstFiles

/** The corrupt-file quarantine (q251): strict mode refuses loudly,
  * salvage mode recovers every complete frame before the first bad
  * byte — including the PARTIAL prefix of a truncated file (the byte
  * facts the q251 oracle cannot replay).
  */
class QuarantineSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sf0001}

  private def conf = ProtoZstFiles.hadoopConf()

  private def writeOneFile(dir: String, n: Int): Unit = {
    import spark.implicits._
    (0 until n).map(i => (f"t$i%04d", i)).toDF("k", "i")
      .select(encode(col("k"), "UTF-8").as("key"),
        array(struct(
          encode(lit("c"), "UTF-8").as("name"),
          encode(concat(lit("v"), col("i")), "UTF-8").as("value"),
          col("i").cast("long").as("write_time"))).as("columns"))
      .coalesce(1)
      // small frames: a real sink file is multi-frame (checkpoint
      // cadence), and the salvage claim is about complete frames
      // BEFORE the damage
      .write.format("proto-zst").option("splitFrameRows", "50")
      .mode("append").save(dir)
  }

  test("strict mode refuses a rotten file loudly (no silent row loss)") {
    // q251's fixture read through the NORMAL scan must throw: the
    // manifest still lists the rotten file, and strict decode is the
    // default contract
    val out = Quarantine.fixtureDir(spark, sf0001)
    val e = intercept[Exception] {
      // force the DECODE path: a bare count() is answered from the
      // manifest/sidecar counts alone (aggregate pushdown — no frame
      // ever decompressed), which must NOT change under rot; only a
      // read that touches the bytes may (and must) refuse
      spark.read.format("proto-zst").load(out)
        .agg(sum(size(col("columns")))).collect()
    }
    assert(e != null)
    // and the metadata COUNT indeed still answers (the manifest is
    // intact; the BYTES are what rotted)
    assert(spark.read.format("proto-zst").load(out).count() > 0L)
  }

  test("q251 salvage: rotten prefix reports zero, healthy prefixes byte-complete") {
    val rows = Quarantine.salvageRead(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getInt(3))).toMap
    assert(rows("3") === ((0L, 0L, 1)),
      "the rotten file must salvage nothing and be flagged suspect")
    assert(rows.count(_._2._3 == 0) === rows.size - 1,
      "exactly one prefix may be suspect")
    assert(rows.filterNot(_._1 == "3").forall(_._2._1 > 0L),
      "every healthy prefix must keep its rows")
  }

  /** One hand-built wire frame (varint prefix + Row body with a single
    * fat Column), ~`valueBytes` big — the unit the synthetic streams
    * below repeat.
    */
  private def syntheticFrame(valueBytes: Int): Array[Byte] = {
    val body = new java.io.ByteArrayOutputStream()
    val key = "kkkkkkkk".getBytes("UTF-8")
    body.write(0x0A) // field 1 (key), wire type 2
    ProtoWire.writeVarint(body, key.length.toLong)
    body.write(key)
    val col = ProtoWire.encodeColumn("c".getBytes("UTF-8"),
      new Array[Byte](valueBytes), 7L)
    body.write(0x12) // field 2 (column), wire type 2
    ProtoWire.writeVarint(body, col.length.toLong)
    body.write(col)
    ProtoWire.delimit(body.toByteArray)
  }

  /** Serves `frame` repeated `n` times (then optionally a prefix of a
    * final partial frame), without ever materialising the whole
    * stream — the generator side of the bounded-memory pin.
    */
  private final class RepeatedFrames(frame: Array[Byte], n: Long,
      tailBytes: Int = 0) extends java.io.InputStream {
    private var served = 0L
    private val total = n * frame.length + tailBytes
    override def read(): Int =
      if (served >= total) -1
      else { val b = frame((served % frame.length).toInt); served += 1; b & 0xff }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      if (served >= total) return -1
      val inFrame = (served % frame.length).toInt
      val chunk = math.min(math.min(len.toLong, total - served),
        (frame.length - inFrame).toLong).toInt
      System.arraycopy(frame, inFrame, b, off, chunk)
      served += chunk
      chunk
    }
  }

  test("salvage walk is streaming: total decoded size beyond any possible buffer") {
    // ~1 MiB frames, repeated until the DECODED stream passes
    // Int.MaxValue: a drain-to-array walk cannot even represent this
    // input (a JVM array caps at ~2^31 bytes), so completing with the
    // exact counts proves the walk's memory is bounded by one frame —
    // the q251 scale contract for oversized legacy files
    val frame = syntheticFrame(1 << 20)
    val n = (Int.MaxValue.toLong / frame.length) + 64
    assert(n * frame.length > Int.MaxValue.toLong)
    val (rows, cols, lastGood, clean) =
      ProtoWire.salvageStatsStream(new RepeatedFrames(frame, n))
    assert(clean, "an undamaged stream must read clean")
    assert(rows === n)
    assert(cols === n, "one column per synthetic frame")
    assert(lastGood === n * frame.length,
      "the watermark must cover every decoded byte")
  }

  test("salvage walk keeps the complete-frame prefix of a mid-frame cut") {
    val frame = syntheticFrame(4096)
    val (rows, _, lastGood, clean) = ProtoWire.salvageStatsStream(
      new RepeatedFrames(frame, 5, tailBytes = frame.length / 2))
    assert(!clean, "a cut mid-frame must not read clean")
    assert(rows === 5L, "every complete frame before the cut counts")
    assert(lastGood === 5L * frame.length)
  }

  test("salvage walk survives the decompressor throwing mid-stream") {
    // zstd-level damage surfaces as an exception from read() — the
    // frames already walked must stand
    val frame = syntheticFrame(4096)
    val healthy: java.io.InputStream = new RepeatedFrames(frame, 3)
    val throwing = new java.io.InputStream {
      override def read(): Int = {
        val r = healthy.read()
        if (r < 0) throw new java.io.IOException("simulated zstd damage")
        r
      }
      override def read(b: Array[Byte], off: Int, len: Int): Int = {
        val r = healthy.read(b, off, len)
        if (r < 0) throw new java.io.IOException("simulated zstd damage")
        r
      }
    }
    val (rows, _, lastGood, clean) = ProtoWire.salvageStatsStream(throwing)
    assert(!clean && rows === 3L && lastGood === 3L * frame.length)
  }

  test("slice-grain salvage: a fanned oversized file merges to the whole-file verdict") {
    import graft.sources.GenManifest
    val dir = java.nio.file.Files.createTempDirectory("graft_quar_slice")
      .toFile.getAbsolutePath
    writeOneFile(dir, 1000) // 50-row frames → ~20 recorded cut points
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(conf)
    val snap = GenManifest.read(dir, conf).get
    val len = snap.dataEntries.head.bytes
    val sliceBytes = len / 6
    val tasks = Quarantine.salvageTasks(dir, snap, sliceBytes)
    assert(tasks.length > 1,
      s"an oversized file must fan into slices, got ${tasks.length} task(s)")
    def verdict(sb: Long) = {
      val v = Quarantine.salvageVerdicts(spark, dir, sb).collect().head
      (v.getAs[Long]("n_rows"), v.getAs[Long]("n_cells"),
        v.getAs[Long]("good_bytes"), v.getAs[Boolean]("suspect"))
    }
    // healthy: the sliced walk must conserve the whole-file verdict
    val healthySliced = verdict(sliceBytes)
    assert(healthySliced === verdict(Long.MaxValue))
    assert(healthySliced._1 === 1000L && !healthySliced._4)
    // rot a byte range IN PLACE inside a later slice (the partial
    // bitrot model), leaving the manifest and sidecars untouched
    val data = fs.listStatus(dirPath).map(_.getPath)
      .filter(_.getName.endsWith(".proto.zst")).head
    val bytes = {
      val in = fs.open(data)
      try in.readAllBytes() finally in.close()
    }
    val rotAt = (len * 65 / 100).toInt
    val rot = ("ROT " * 16).getBytes("UTF-8")
    System.arraycopy(rot, 0, bytes, rotAt, rot.length)
    val os = fs.create(data, true)
    try os.write(bytes) finally os.close()
    // the merged per-slice verdict must equal the single-task walk of
    // the same bytes — first-bad-byte semantics survive the fan-out
    val rottedSliced = verdict(sliceBytes)
    assert(rottedSliced === verdict(Long.MaxValue),
      "slice-merged verdict diverged from the whole-file walk")
    assert(rottedSliced._4, "a rotted file must be flagged")
    assert(rottedSliced._1 > 0L && rottedSliced._1 < 1000L,
      s"mid-file rot must salvage a strict prefix, got ${rottedSliced._1}")
  }

  test("a GROWN file (garbage past the attested length) is suspect on both walk paths") {
    // the verdict must not depend on which path the planner picked:
    // the whole-file walk reads to physical EOF, so the sliced walk's
    // FINAL slice must too — a tail capped at the manifest's attested
    // e.bytes would never decode the appended garbage and read the
    // grown file as clean
    import graft.sources.GenManifest
    val dir = java.nio.file.Files.createTempDirectory("graft_quar_grown")
      .toFile.getAbsolutePath
    writeOneFile(dir, 1000)
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(conf)
    val data = fs.listStatus(dirPath).map(_.getPath)
      .filter(_.getName.endsWith(".proto.zst")).head
    val attested = GenManifest.read(dir, conf).get.dataEntries.head.bytes
    assert(fs.getFileStatus(data).getLen === attested)
    val grown = {
      val in = fs.open(data)
      try in.readAllBytes() finally in.close()
    } ++ ("NOT A ZSTD FRAME " * 64).getBytes("UTF-8")
    val os = fs.create(data, true)
    try os.write(grown) finally os.close()
    def verdict(sb: Long) = {
      val v = Quarantine.salvageVerdicts(spark, dir, sb).collect().head
      (v.getAs[Long]("n_rows"), v.getAs[Long]("good_bytes"),
        v.getAs[Boolean]("suspect"))
    }
    val sliced = verdict(attested / 6)
    assert(Quarantine.salvageTasks(dir,
      GenManifest.read(dir, conf).get, attested / 6).length > 1,
      "the grown-file pin needs the sliced path to actually fan out")
    assert(sliced === verdict(Long.MaxValue),
      "sliced verdict of a grown file diverged from the whole-file walk")
    assert(sliced._3, "appended garbage must flag the file suspect")
    assert(sliced._1 === 1000L,
      "every attested row still salvages — only the growth is damage")
  }

  test("a vanished file yields a suspect verdict, never a task failure") {
    import graft.sources.GenManifest
    val dir = java.nio.file.Files.createTempDirectory("graft_quar_gone")
      .toFile.getAbsolutePath
    writeOneFile(dir, 200)
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(conf)
    val data = fs.listStatus(dirPath).map(_.getPath)
      .filter(_.getName.endsWith(".proto.zst")).head
    fs.delete(data, false) // bytes gone, manifest still attests the file
    val v = Quarantine.salvageVerdicts(spark, dir).collect().head
    assert(v.getAs[Boolean]("suspect"),
      "a file whose bytes vanished must be flagged, not crash the scan")
    assert(v.getAs[Long]("n_rows") === 0L &&
      v.getAs[Long]("good_bytes") === 0L)
    // and a stale sidecar pointing past the file's REAL end (the file
    // shrunk in place) must degrade to per-slice verdicts, not throw:
    // slice starts beyond EOF read as suspect slices of the prefix walk
    val dir2 = java.nio.file.Files.createTempDirectory("graft_quar_shrunk")
      .toFile.getAbsolutePath
    writeOneFile(dir2, 1000)
    val d2 = new org.apache.hadoop.fs.Path(dir2)
    val fs2 = d2.getFileSystem(conf)
    val data2 = fs2.listStatus(d2).map(_.getPath)
      .filter(_.getName.endsWith(".proto.zst")).head
    val full = GenManifest.read(dir2, conf).get.dataEntries.head.bytes
    val keep = new Array[Byte]((full / 4).toInt) // shrink to 25%
    val in2 = fs2.open(data2)
    try in2.readFully(keep) finally in2.close()
    val os2 = fs2.create(data2, true)
    try os2.write(keep) finally os2.close()
    // slice against the ATTESTED size: later slices start past EOF
    val v2 = Quarantine.salvageVerdicts(spark, dir2, full / 6)
      .collect().head
    assert(v2.getAs[Boolean]("suspect"))
    assert(v2.getAs[Long]("n_rows") > 0L &&
      v2.getAs[Long]("n_rows") < 1000L,
      s"the surviving prefix must still salvage, got ${v2.getAs[Long]("n_rows")}")
  }

  test("a frame-aligned truncation of a sidecar-less governed file fails a strict read") {
    import graft.sources.{FileIndex, SplitSidecar}
    val dir = java.nio.file.Files.createTempDirectory("graft_quar_cut")
      .toFile.getAbsolutePath
    writeOneFile(dir, 1000)
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(conf)
    val data = fs.listStatus(dirPath).map(_.getPath)
      .filter(_.getName.endsWith(".proto.zst")).head
    // cut at a recorded frame boundary: the zstd stream ends cleanly
    // and the decoded prefix ends at a wire-frame boundary
    val cuts = SplitSidecar.read(fs, data).get
    val (cutAt, rowsBefore) = cuts(cuts.length / 2)
    val keep = new Array[Byte](cutAt.toInt)
    val in = fs.open(data)
    try in.readFully(keep) finally in.close()
    val os = fs.create(data, true)
    try os.write(keep) finally os.close()
    // the index is lost: only the manifest attests the count
    assert(fs.delete(FileIndex.path(data), false))
    val e = intercept[Exception] {
      spark.read.format("proto-zst").load(dir)
        .agg(sum(size(col("columns")))).collect()
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(x => String.valueOf(x.getMessage).contains("truncated stream")),
      s"strict read must refuse the cut file: $e")
    val salvaged = spark.read.format("proto-zst")
      .option("ignoreCorrupt", "true").load(dir).select(col("key")).collect()
    assert(salvaged.length.toLong === rowsBefore)
  }

  test("a frame-aligned truncation inside a sliced file's last slice fails a strict read") {
    import graft.sources.SplitSidecar
    val dir = java.nio.file.Files.createTempDirectory("graft_quar_slicecut")
      .toFile.getAbsolutePath
    writeOneFile(dir, 1000)
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(conf)
    val data = fs.listStatus(dirPath).map(_.getPath)
      .filter(_.getName.endsWith(".proto.zst")).head
    // a read cut at every frame reads the file as slices; cut the file
    // at its last recorded frame boundary, which the last slice holds,
    // and keep the index, so the strict read still plans those slices
    val (cutAt, rowsBefore) = SplitSidecar.read(fs, data).get.last
    val keep = new Array[Byte](cutAt.toInt)
    val in = fs.open(data)
    try in.readFully(keep) finally in.close()
    val os = fs.create(data, true)
    try os.write(keep) finally os.close()
    val strict = spark.read.format("proto-zst").load(dir)
    val e = SparkTestSession.frameSliced {
      assert(strict.rdd.getNumPartitions > 1, "the file must read as slices")
      intercept[Exception](strict.agg(sum(size(col("columns")))).collect())
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(x => String.valueOf(x.getMessage).contains("truncated stream")),
      s"strict read must refuse the cut file: $e")
    // a salvage read never slices, so it keeps the file's intact prefix
    val salvaged = SparkTestSession.frameSliced(spark.read.format("proto-zst")
      .option("ignoreCorrupt", "true").load(dir).select(col("key")).collect())
      .map(r => new String(r.getAs[Array[Byte]](0), "UTF-8")).sorted.toSeq
    assert(salvaged === (0L until rowsBefore).map(i => f"t$i%04d"))
  }

  test("a truncated file salvages its complete-frame prefix and is suspect") {
    val dir = java.nio.file.Files.createTempDirectory("graft_quar_trunc")
      .toFile.getAbsolutePath
    writeOneFile(dir, 1000)
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(conf)
    val data = fs.listStatus(dirPath).map(_.getPath)
      .filter(_.getName.endsWith(".proto.zst")).head
    // truncate to 60%: the zstd stream dies mid-frame; everything
    // decoded before it that forms COMPLETE wire frames salvages
    val len = fs.getFileStatus(data).getLen
    val keep = new Array[Byte]((len * 6 / 10).toInt)
    val in = fs.open(data)
    try in.readFully(keep) finally in.close()
    val os = fs.create(data, true)
    try os.write(keep) finally os.close()
    val v = Quarantine.salvageVerdicts(spark, dir).collect().head
    val (nRows, good, suspect) =
      (v.getAs[Long]("n_rows"), v.getAs[Long]("good_bytes"),
        v.getAs[Boolean]("suspect"))
    assert(suspect, "a truncated file must be flagged")
    assert(nRows > 0L && nRows < 1000L,
      s"a 60% truncation must salvage a strict prefix, got $nRows")
    assert(good > 0L, "the good-bytes watermark must advance")
    // and strict mode still refuses the truncated file loudly (via
    // the decode path — see the rot test for why not a bare count)
    val e = intercept[Exception] {
      spark.read.format("proto-zst").load(dir)
        .agg(sum(size(col("columns")))).collect()
    }
    assert(e != null)
  }
}
