package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{FileIndex, MetaIO, ProtoZstFiles}

/** The index's frame keys: point lookups over a key-sorted
  * file seek to the frames that can hold the candidates instead of
  * decoding the file — the reference's Index.db `(key, position)` walk
  * at zstd-frame grain. Pins the seek counters, duplicate keys
  * straddling frame boundaries, multi-key range merging, and the
  * unsorted/unindexed fallbacks, and the driver-local answer: a point
  * get that reads nothing or one frame runs no Spark job.
  */
class FrameSeekSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private def freshDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toFile.getAbsolutePath

  private def conf = ProtoZstFiles.hadoopConf()

  /** 100 distinct keys × 10 rows each, key-sorted into ONE file with
    * 7-row frames — runs of a key straddle boundaries by construction
    * (10 and 7 are coprime), which is exactly the duplicate case the
    * segment arithmetic must keep inclusive on both ends.
    */
  private def writeSorted(dir: String, n: Int, keyOf: Int => String,
      frameRows: Int = 7): Unit = {
    import spark.implicits._
    (0 until n).map(i => (keyOf(i), i)).toDF("k", "i")
      .select(encode(col("k"), "UTF-8").as("key"),
        array(struct(
          encode(concat(lit("c"), col("i")), "UTF-8").as("name"),
          encode(concat(lit("v"), col("i")), "UTF-8").as("value"),
          col("i").cast("long").as("write_time"))).as("columns"))
      .repartitionByRange(1, col("key")).sortWithinPartitions(col("key"))
      .write.format("proto-zst").option("splitFrameRows", frameRows.toString)
      .mode("append").save(dir)
  }

  private lazy val dupDir: String = {
    val dir = freshDir("graft_seek_dup")
    writeSorted(dir, 1000, i => f"k${i / 10}%03d")
    dir
  }

  private def get(dir: String, ks: String*) =
    spark.read.format("proto-zst").load(dir)
      .filter(if (ks.length == 1)
        col("key") === lit(ks.head.getBytes("UTF-8"))
      else col("key").isin(ks.map(_.getBytes("UTF-8")): _*))
      .select(decode(col("key"), "UTF-8").as("k"), size(col("columns")))
      .collect().map(r => (r.getString(0), r.getInt(1))).sorted.toSeq

  test("point lookup seeks: one frame's worth of bytes, correct rows, duplicates intact") {
    val fileBytes = new org.apache.hadoop.fs.Path(dupDir)
      .getFileSystem(conf)
      .listStatus(new org.apache.hadoop.fs.Path(dupDir))
      .filter(_.getPath.getName.endsWith(".proto.zst")).map(_.getLen).sum
    // middle key, run straddles a 7-row frame boundary
    MetaIO.reset()
    assert(get(dupDir, "k050") === (0 until 10).map(_ => ("k050", 1)))
    assert(MetaIO.frameSeeks.get() === 1L,
      s"expected one seeked partition, got ${MetaIO.frameSeeks.get()}")
    assert(MetaIO.seekBytes.get() > 0L &&
      MetaIO.seekBytes.get() < fileBytes / 4,
      s"seek read ${MetaIO.seekBytes.get()} of $fileBytes bytes — not a seek")
    // first and last keys of the file (the index's edge segments)
    assert(get(dupDir, "k000").length === 10)
    assert(get(dupDir, "k099").length === 10)
    // every key round-trips through the seek path with its full run
    (0 until 100 by 9).foreach { i =>
      val k = f"k$i%03d"
      assert(get(dupDir, k) === (0 until 10).map(_ => (k, 1)), k)
    }
  }

  test("IN across distant keys merges ranges; absent keys return nothing") {
    MetaIO.reset()
    assert(get(dupDir, "k003", "k097").length === 20)
    assert(MetaIO.frameSeeks.get() === 1L)
    // an absent key between two present runs: the seek decodes its
    // segment and finds nothing (never a wrong row)
    assert(get(dupDir, "k05x").isEmpty)
    // k0505 sorts inside k050's segment but matches nothing
    assert(get(dupDir, "k0505").isEmpty)
  }

  test("unsorted files never seek (fallback scans the file, correctly)") {
    val dir = freshDir("graft_seek_uns")
    import spark.implicits._
    // deliberately unsorted arrival order (NOT range/sort-partitioned)
    (0 until 500).map { i =>
      val j = (i * 7919) % 500
      (f"u$j%03d", j)
    }.toDF("k", "i")
      .select(encode(col("k"), "UTF-8").as("key"),
        array(struct(
          encode(concat(lit("c"), col("i")), "UTF-8").as("name"),
          encode(concat(lit("v"), col("i")), "UTF-8").as("value"),
          col("i").cast("long").as("write_time"))).as("columns"))
      .coalesce(1)
      .write.format("proto-zst").option("splitFrameRows", "7")
      .mode("append").save(dir)
    MetaIO.reset()
    assert(get(dir, "u123") === Seq(("u123", 1)))
    assert(MetaIO.frameSeeks.get() === 0L,
      "an unsorted file must not claim index-seek soundness")
  }

  test("files too small for a frame boundary scan whole (no index, no seek)") {
    val dir = freshDir("graft_seek_small")
    writeSorted(dir, 20, i => f"s$i%02d", frameRows = 4096)
    MetaIO.reset()
    assert(get(dir, "s07") === Seq(("s07", 1)))
    assert(MetaIO.frameSeeks.get() === 0L)
  }

  test("row count an exact multiple of splitFrameRows still seeks (no keyless tail boundary)") {
    // 1000 rows at 10-row frames: the last frame flushes exactly at
    // the final row, so the writer's pending boundary never sees a
    // following row — it must be dropped, not written keyless (one
    // empty first-key hex used to disable the whole file's seek index)
    val dir = freshDir("graft_seek_mult")
    writeSorted(dir, 1000, i => f"m${i / 10}%03d", frameRows = 10)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    val data = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath).filter(_.getName.endsWith(".proto.zst")).head
    val frames = FileIndex.read(fs, data).get.frames
    assert(frames.forall(_.firstKey.nonEmpty),
      "every written boundary must carry its first key — a trailing " +
        "keyless boundary means the writer failed to trim it")
    MetaIO.reset()
    assert(get(dir, "m050") === (0 until 10).map(_ => ("m050", 1)))
    assert(MetaIO.frameSeeks.get() === 1L,
      "exact-multiple files must keep their frame-seek index")
  }

  test("keyless boundaries still slice but never seek") {
    // a sorted file whose frames begin with empty keys: its boundaries
    // carry no first key, so a get reads the whole file while a sliced
    // read still cuts at every boundary
    val dir = freshDir("graft_seek_keyless")
    writeSorted(dir, 30, i => if (i < 21) "" else f"z$i%02d")
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    val data = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath).filter(_.getName.endsWith(".proto.zst")).head
    val idx = FileIndex.read(fs, data).get
    assert(idx.sorted && idx.frames.length === 4 &&
      idx.frames.count(_.firstKey.isEmpty) === 2)
    MetaIO.reset()
    assert(get(dir, "z25") === Seq(("z25", 1)))
    assert(MetaIO.frameSeeks.get() === 0L && MetaIO.bloomProbes.get() === 1L)
    val sliced = spark.read.format("proto-zst").load(dir)
    assert(SparkTestSession.frameSliced(sliced.rdd.getNumPartitions) ===
      idx.frames.length + 1)
    assert(sliced.count() === 30L)
  }

  test("seek composes with the tombstone anti-set: erased key invisible through the index") {
    val victims = Seq("k042".getBytes("UTF-8"))
    // fresh dir so dupDir stays clean for other tests
    val dir = freshDir("graft_seek_tomb")
    writeSorted(dir, 1000, i => f"k${i / 10}%03d")
    graft.operators.Tombstones.eraseKeys(dir, victims)
    MetaIO.reset()
    assert(get(dir, "k042").isEmpty)
    assert(get(dir, "k043").length === 10)
    assert(MetaIO.frameSeeks.get() === 2L)
  }

  /** `f`'s result with the Spark jobs and tasks it started. */
  private def counted[T](f: => T): (T, Int, Int) = {
    val sc = spark.sparkContext
    val jobs, tasks = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
      override def onTaskStart(e: SparkListenerTaskStart): Unit = { tasks.incrementAndGet(); () }
    }
    org.apache.spark.GraftBusAccess.drain(sc)
    sc.addSparkListener(l)
    try {
      val r = f
      org.apache.spark.GraftBusAccess.drain(sc)
      (r, jobs.get, tasks.get)
    } finally sc.removeSparkListener(l)
  }

  /** 1000 DISTINCT keys u0000..u0999, key-sorted into one file with
    * 50-row frames: a key that is not a frame's first key lies in
    * exactly one frame segment.
    */
  private def uniqDir(prefix: String): String = {
    val dir = freshDir(prefix)
    writeSorted(dir, 1000, i => f"u$i%04d", frameRows = 50)
    dir
  }
  private lazy val uniq: String = uniqDir("graft_seek_uniq")

  /** A point get as convbench issues it: the source's rows collected
    * as they are (a computed projection would plan a codegen stage over
    * the local scan, which runs a job), as (key, first cell's write
    * time) pairs.
    */
  private def point(dir: String, opts: (String, String)*)(ks: String*) = {
    val r = opts.foldLeft(spark.read.format("proto-zst")) { case (r, (k, v)) => r.option(k, v) }
      .load(dir)
    r.filter(if (ks.length == 1) col("key") === lit(ks.head.getBytes("UTF-8"))
      else col("key").isin(ks.map(_.getBytes("UTF-8")): _*))
  }
  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (new String(r.getAs[Array[Byte]](0), "UTF-8"),
      r.getSeq[org.apache.spark.sql.Row](1).head.getLong(2))).sorted.toSeq

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("point gets run no job: absent keys plan nothing, a one-frame get decodes on the driver") {
    val dir = uniq
    // absent inside the file's range: the driver-side bloom probe
    // proves the file key-free; absent past its range: range skip
    MetaIO.reset()
    assert(counted(rows(point(dir)("u0123x"))) === ((Seq.empty, 0, 0)))
    assert(MetaIO.bloomProbes.get() === 1L && MetaIO.bloomSkips.get() === 1L)
    assert(counted(rows(point(dir)("zzz"))) === ((Seq.empty, 0, 0)))
    // present: one frame seeked and decoded on the driver
    MetaIO.reset()
    assert(counted(rows(point(dir)("u0123"))) === ((Seq(("u0123", 123L)), 0, 0)))
    assert(MetaIO.frameSeeks.get() === 1L && MetaIO.seekBytes.get() > 0L)
    val p = plan(point(dir)("u0123"))
    // and no Filter re-evaluates the exact pushed key predicate
    assert(p.contains("LocalTableScan") && !p.contains("BatchScan") &&
      !p.contains("Filter"), p)
    // a frame's first key may have duplicates across the boundary, so
    // it reads two segments: a distributed scan, same answer
    assert(counted(rows(point(dir)("u0150"))) === ((Seq(("u0150", 150L)), 1, 1)))
    assert(plan(point(dir)("u0150")).contains("BatchScan"))
  }

  test("an IN over distant frames stays a BatchScan and seeks exactly as before") {
    val dir = uniq
    def seekBytes(ks: String*): Long = { MetaIO.reset(); get(dir, ks: _*); MetaIO.seekBytes.get() }
    val (got, jobs, tasks) = counted(get(dir, "u0003", "u0997"))
    assert(got === Seq(("u0003", 1), ("u0997", 1)))
    // one file, one seek, one partition naming both frames
    assert(jobs === 1 && tasks === 1)
    assert(plan(point(dir)("u0003", "u0997")).contains("BatchScan"))
    MetaIO.reset()
    get(dir, "u0003", "u0997")
    assert(MetaIO.frameSeeks.get() === 1L)
    assert(MetaIO.seekBytes.get() === seekBytes("u0003") + seekBytes("u0997"))
  }

  test("the local path keeps tombstones, version pins, write-time windows and ignoreCorrupt") {
    // an erased key reads nothing; its frame neighbour still reads
    val erased = uniqDir("graft_seek_local_tomb")
    graft.operators.Tombstones.eraseKeys(erased, Seq("u0123".getBytes("UTF-8")))
    assert(counted(rows(point(erased)("u0123"))) === ((Seq.empty, 0, 0)))
    assert(counted(rows(point(erased)("u0124"))) === ((Seq(("u0124", 124L)), 0, 0)))

    // a pinned version answers from its own snapshot: a second commit
    // of u0123 makes HEAD read two files, the pin reads one frame
    val pinned = uniqDir("graft_seek_local_pin")
    val v1 = graft.sources.GenManifest.read(pinned, conf).get.version
    writeSorted(pinned, 1, _ => "u0123")
    assert(rows(point(pinned)("u0123")) === Seq(("u0123", 0L), ("u0123", 123L)))
    assert(counted(rows(point(pinned, "manifestVersion" -> v1.toString)("u0123"))) ===
      ((Seq(("u0123", 123L)), 0, 0)))

    // a write-time window that misses the file plans nothing; one that
    // covers it returns the row (write_time = the key's index)
    def window(lo: Long, hi: Long) =
      point(uniq, "minWriteTimeUs" -> lo.toString, "maxWriteTimeUs" -> hi.toString)("u0123")
    assert(counted(rows(window(5000L, 6000L))) === ((Seq.empty, 0, 0)))
    assert(counted(rows(window(100L, 200L))) === ((Seq(("u0123", 123L)), 0, 0)))

    // a corrupt frame: a get through it fails strict and salvages to
    // nothing, as a distributed scan of the key does; a get of an
    // intact frame never touches it
    val bad = uniqDir("graft_seek_local_bad")
    val fs = new org.apache.hadoop.fs.Path(bad).getFileSystem(conf)
    val data = fs.listStatus(new org.apache.hadoop.fs.Path(bad))
      .map(_.getPath).filter(_.getName.endsWith(".proto.zst")).head
    // u0100..u0149 is the frame after the boundary with 100 rows before
    // it; zero its zstd magic number
    val off = FileIndex.read(fs, data).get.frames
      .find(_.rowsBefore == 100L).get.offset
    val raf = new java.io.RandomAccessFile(data.toUri.getPath, "rw")
    try { raf.seek(off); raf.write(new Array[Byte](4)) } finally raf.close()
    def scanned(k: String) = rows(spark.read.format("proto-zst")
      .option("ignoreCorrupt", "true").load(bad)
      .filter(col("key") >= lit(k.getBytes("UTF-8")) && col("key") <= lit(k.getBytes("UTF-8"))))
    val salvage = "ignoreCorrupt" -> "true"
    intercept[Exception](rows(point(bad)("u0123")))
    intercept[org.apache.spark.SparkException](rows(spark.read.format("proto-zst")
      .load(bad).filter(col("key") >= lit("u0123".getBytes("UTF-8")))))
    assert(counted(rows(point(bad, salvage)("u0123"))) === ((Seq.empty, 0, 0)))
    assert(scanned("u0123").isEmpty)
    // a salvaging get that seeks several ranges keeps their intact
    // prefix, as a whole-file read does: the damaged first range ends
    // it, though the later range is intact
    assert(rows(point(bad, salvage)("u0123", "u0900")).isEmpty)
    assert(rows(point(bad, salvage)("u0900")) === Seq(("u0900", 900L)))
    assert(scanned("u0900").isEmpty)
    // a salvaging whole-file read decodes frame range by frame range:
    // it keeps every frame whose bytes still verify. The local
    // filesystem checksums 512-byte chunks, so a frame sharing the
    // damaged chunk is lost with it
    assert(scanned("u0042") === Seq(("u0042", 42L)))
    def salvagedAll = rows(spark.read.format("proto-zst")
      .option("ignoreCorrupt", "true").load(bad))
    val bytesPerSum = fs.getConf.getInt("file.bytes-per-checksum", 512)
    val verified = graft.sources.SplitSidecar.read(fs, data).get
      .filter(_._1 <= off / bytesPerSum * bytesPerSum).map(_._2).max
    assert(verified >= 50L)
    assert(salvagedAll === (0L until verified).map(i => (f"u$i%04d", i)))
    Seq(Seq.empty[(String, String)], Seq(salvage)).foreach { opts =>
      assert(counted(rows(point(bad, opts: _*)("u0042"))) === ((Seq(("u0042", 42L)), 0, 0)))
    }
    // on a store that does not checksum reads, zstd alone finds the
    // damage, and every row before the damaged frame is kept
    val crc = new org.apache.hadoop.fs.Path(data.getParent, s".${data.getName}.crc")
    assert(fs.delete(crc, false))
    assert(salvagedAll === (0 until 100).map(i => (f"u$i%04d", i.toLong)))
  }

  test("a get on a segment's first key stops decoding at the next key") {
    // u0950 opens the file's last segment; its duplicates could end the
    // previous one, so the get reads both. Rewrite the last zstd frame
    // as u0950, u0951 and then a torn frame: a read that decoded the
    // segment to its end would fail on the tear
    val dir = uniqDir("graft_seek_stop")
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    val data = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath).filter(_.getName.endsWith(".proto.zst")).head
    val off = FileIndex.read(fs, data).get.frames.last.offset
    def row(i: Int) = graft.functions.ProtoWire.encodeDelimited(f"u$i%04d".getBytes("UTF-8"),
      new org.apache.spark.sql.catalyst.util.GenericArrayData(Array[Any](
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
          s"c$i".getBytes("UTF-8"), s"v$i".getBytes("UTF-8"), i.toLong)))))
    val head = { val in = fs.open(data); try in.readNBytes(off.toInt) finally in.close() }
    val tail = new java.io.ByteArrayOutputStream()
    val z = new com.github.luben.zstd.ZstdOutputStream(tail)
    z.write(row(950) ++ row(951) ++ Array[Byte](5, 10))
    z.close()
    val out = fs.create(data, true)
    try { out.write(head); tail.writeTo(out) } finally out.close()
    intercept[org.apache.spark.SparkException](rows(spark.read.format("proto-zst").load(dir)))
    val (got, jobs, _) = counted(rows(point(dir)("u0950")))
    assert(got === Seq(("u0950", 950L)) && jobs === 1)
  }

  test("a present-key get on an unsorted single-frame file runs no job") {
    // the shape of one small append: unsorted keys, one zstd frame, so
    // the index has no boundary to seek by but the whole file is the
    // one segment a seek would pick
    import spark.implicits._
    val dir = freshDir("graft_seek_one_frame")
    (0 until 500).map(i => (f"u${(i * 7919) % 500}%04d", ((i * 7919) % 500).toLong))
      .toDF("k", "i")
      .select(encode(col("k"), "UTF-8").as("key"),
        array(struct(encode(lit("c"), "UTF-8").as("name"),
          encode(lit("v"), "UTF-8").as("value"),
          col("i").as("write_time"))).as("columns"))
      .coalesce(1).write.format("proto-zst").mode("append").save(dir)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    val data = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath).filter(_.getName.endsWith(".proto.zst")).head
    val idx = FileIndex.read(fs, data).get
    assert(!idx.sorted && idx.frames.isEmpty)
    MetaIO.reset()
    assert(counted(rows(point(dir)("u0123"))) === ((Seq(("u0123", 123L)), 0, 0)))
    assert(MetaIO.bloomProbes.get() === 1L && MetaIO.frameSeeks.get() === 0L)
    assert(plan(point(dir)("u0123")).contains("LocalTableScan"))
  }

  test("a get that plans no partition never reads the tombstones") {
    // every bloom rules the key out, so the get reads nothing — and
    // must not decode the live tombstone files into its anti-set: make
    // one undecodable (its .crc removed so only zstd could notice)
    val dir = uniqDir("graft_seek_tomb_skip")
    graft.operators.Tombstones.eraseKeys(dir, Seq("u0123".getBytes("UTF-8")))
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    val tomb = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath).filter(_.getName.startsWith("tomb-")).head
    val len = fs.getFileStatus(tomb).getLen.toInt
    val raf = new java.io.RandomAccessFile(tomb.toUri.getPath, "rw")
    try raf.write(Array.fill[Byte](len)(0x5a)) finally raf.close()
    assert(fs.delete(new org.apache.hadoop.fs.Path(tomb.getParent, s".${tomb.getName}.crc"), false))
    assert(counted(rows(point(dir)("u0123x"))) === ((Seq.empty, 0, 0)))
    // a get that reads a frame still needs the anti-set, and refuses it
    intercept[Exception](rows(point(dir)("u0124")))
  }

  test("a get whose seeked frame was cut off fails loudly") {
    // cut the file at the recorded offset of the frame holding u0123:
    // the zstd stream then ends cleanly at a frame boundary, so only
    // the seeked range's attested row count can see the frame is gone
    val dir = uniqDir("graft_seek_cut")
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    val data = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath).filter(_.getName.endsWith(".proto.zst")).head
    val off = FileIndex.read(fs, data).get.frames
      .find(_.rowsBefore == 100L).get.offset
    val head = { val in = fs.open(data); try in.readNBytes(off.toInt) finally in.close() }
    val out = fs.create(data, true)
    try out.write(head) finally out.close()
    // a frame before the cut still answers
    assert(rows(point(dir)("u0042")) === Seq(("u0042", 42L)))
    val e = intercept[Exception](rows(point(dir)("u0123")))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(x => String.valueOf(x.getMessage).contains("truncated stream")),
      s"the get must refuse the cut frame: $e")
  }

  test("a get over bloom-positive unsorted files opens each index once") {
    // two files hold every key in descending order: both blooms say
    // maybe and neither attests sorted, so the get reads both whole;
    // cut at every frame, each is sliced from the index its bloom
    // probe read
    import spark.implicits._
    val dir = freshDir("graft_seek_unsorted")
    (1 to 2).foreach { _ =>
      (0 until 1000).map(i => (f"u${999 - i}%04d", i.toLong)).toDF("k", "i")
        .select(encode(col("k"), "UTF-8").as("key"),
          array(struct(encode(lit("c"), "UTF-8").as("name"),
            encode(lit("v"), "UTF-8").as("value"),
            col("i").as("write_time"))).as("columns"))
        .coalesce(1).write.format("proto-zst").option("splitFrameRows", "50")
        .mode("append").save(dir)
    }
    MetaIO.reset()
    val parts = SparkTestSession.frameSliced(point(dir)("u0123").rdd.getNumPartitions)
    assert(parts > 2, s"$parts partitions: each file must read as slices")
    assert(MetaIO.bloomProbes.get() === 2L && MetaIO.frameSeeks.get() === 0L)
    assert(MetaIO.indexReads.get() === 2L)
    assert(rows(point(dir)("u0123")) === Seq(("u0123", 876L), ("u0123", 876L)))
  }

  test("a key-filtered stream never takes the local path and returns the batch rows") {
    val dir = uniq
    val name = s"seek_stream_${System.nanoTime()}"
    val q = spark.readStream.format("proto-zst").load(dir)
      .filter(col("key").isin("u0123".getBytes("UTF-8"), "u0777".getBytes("UTF-8")))
      .select(decode(col("key"), "UTF-8").as("k"), size(col("columns")).as("n"))
      .writeStream.format("memory").queryName(name).outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try {
      q.awaitTermination()
      val got = spark.table(name).collect().map(r => (r.getString(0), r.getInt(1))).sorted.toSeq
      assert(got === get(dir, "u0123", "u0777"))
      assert(got === Seq(("u0123", 1), ("u0777", 1)))
      val p = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan.toString
      assert(!p.contains("LocalTableScan") && p.contains("Filter"), p)
    } finally q.stop()
  }
}
