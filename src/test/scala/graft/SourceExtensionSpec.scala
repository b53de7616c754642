package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{CellModel, Releases, Sink, SinkMaintain}

/** The proto-zst DSv2 source and the SQL-function extension surface. */
class SourceExtensionSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sf0001}

  test("proto-zst source round-trips the sink output to the live cells") {
    val cells = Sink.protoSourceRoundtrip(spark, sf0001)
    val expected = CellModel.liveCellStrings(spark, sf0001)
      .select("key", "name", "value", "write_time")
    assert(cells.exceptAll(expected).count() === 0)
    assert(expected.exceptAll(cells).count() === 0)
  }

  test("proto-zst source plans one partition per file") {
    val outDir = java.nio.file.Files.createTempDirectory("graft_src_t")
      .toFile.getAbsolutePath
    Sink.writeFramed(
      CellModel.encodeProto(spark, sf0001).select(col("framed")), outDir)
    val nFiles = new java.io.File(outDir)
      .listFiles((_, n) => n.endsWith(".proto.zst")).length
    val df = spark.read.format("proto-zst").load(outDir)
    assert(df.rdd.getNumPartitions === nFiles)
    assert(nFiles > 0)
  }

  test("ignoreCorrupt salvages the valid prefix of a corrupt file") {
    import com.github.luben.zstd.ZstdOutputStream
    import graft.functions.ProtoWire
    val dir = java.nio.file.Files.createTempDirectory("graft_corrupt")
      .toFile.getAbsolutePath
    // 3 valid framed rows, then a frame whose declared length overruns
    val good = (1 to 3).map { i =>
      ProtoWire.delimit(ProtoWire.encodeRow(s"k$i".getBytes,
        new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])))
    }
    val os = new ZstdOutputStream(
      new java.io.FileOutputStream(s"$dir/bad.proto.zst"))
    good.foreach(os.write)
    os.write(Array[Byte](120, 1, 2)) // frame len 120, only 2 bytes follow
    os.close()
    val salvaged = spark.read.format("proto-zst")
      .option("ignoreCorrupt", "true").load(dir)
    assert(salvaged.count() === 3)
    val strict = spark.read.format("proto-zst").load(dir)
    assertThrows[org.apache.spark.SparkException](strict.count())
  }

  test("key filter pushdown returns exactly the full-scan-then-filter rows") {
    val outDir = java.nio.file.Files.createTempDirectory("graft_push_t")
      .toFile.getAbsolutePath
    Sink.writeNested(CellModel.nestRows(spark, sf0001), outDir)
    val pushed = spark.read.format("proto-zst").load(outDir)
      .filter(col("key") >= lit("3".getBytes) && col("key") < lit("7".getBytes))
    val manual = spark.read.format("proto-zst").load(outDir)
      .collect().map(r => new String(r.getAs[Array[Byte]](0)))
      .filter(k => k >= "3" && k < "7").sorted
    assert(pushed.collect().map(r => new String(r.getAs[Array[Byte]](0)))
      .sorted.toSeq === manual.toSeq)
    assert(manual.nonEmpty) // non-vacuous range
    // the scan itself advertises the pushed predicates
    val plan = pushed.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") &&
      plan.contains("GreaterThanOrEqual(key"), plan.take(2000))
  }

  test("column pruning drops the columns array from the read schema") {
    val outDir = java.nio.file.Files.createTempDirectory("graft_prune_t")
      .toFile.getAbsolutePath
    Sink.writeNested(CellModel.nestRows(spark, sf0001), outDir)
    val keysOnly = spark.read.format("proto-zst").load(outDir)
      .select(decode(col("key"), "UTF-8").as("key"))
    val plan = keysOnly.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<key:binary>"), plan.take(2000))
    // and the data still round-trips: same key set as the full read
    val full = spark.read.format("proto-zst").load(outDir)
      .select(decode(col("key"), "UTF-8").as("key"))
      .collect().map(_.getString(0)).sorted
    assert(keysOnly.collect().map(_.getString(0)).sorted.toSeq === full.toSeq)
  }

  test("decodeRowsPruned skips dropped frames and never decodes pruned columns") {
    import graft.functions.ProtoWire
    val arr = new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array[Any](org.apache.spark.sql.catalyst.InternalRow(
        "n".getBytes, "v".getBytes, 7L)))
    val buf = (1 to 5).flatMap(i =>
      ProtoWire.delimit(ProtoWire.encodeRow(s"k$i".getBytes, arr))).toArray
    val kept = ProtoWire.decodeRowsPruned(buf, wantColumns = true,
      keep = k => new String(k) >= "k3").toSeq
    assert(kept.map(r => new String(r.key)) === Seq("k3", "k4", "k5"))
    assert(kept.forall(_.columns.map(c => new String(c.name)) == Seq("n")))
    val keyOnly = ProtoWire.decodeRowsPruned(buf, wantColumns = false,
      keep = _ => true).toSeq
    assert(keyOnly.size === 5 && keyOnly.forall(_.columns.isEmpty))
  }

  test("nested pruning: count() and single-field projections stay correct") {
    val outDir = java.nio.file.Files.createTempDirectory("graft_nprune_t")
      .toFile.getAbsolutePath
    Sink.writeNested(CellModel.nestRows(spark, sf0001), outDir)
    val df = spark.read.format("proto-zst").load(outDir)
    // ground truth via the full-schema path (collect prunes nothing)
    val fullRows = df.collect()
    val expWt = fullRows.flatMap(_.getSeq[org.apache.spark.sql.Row](1))
      .map(_.getAs[Long]("write_time")).sum
    // count() prunes the array element struct to struct<> — regression
    // for the reader emitting a wider struct than the read schema
    assert(df.count() === fullRows.length.toLong)
    // single nested field projection prunes to struct<write_time>
    val sumWt = df.select(explode(col("columns")).as("c"))
      .agg(sum(col("c.write_time"))).collect()(0).getLong(0)
    assert(sumWt === expWt)
  }

  test("proto-zst micro-batch stream delivers new files incrementally") {
    import com.github.luben.zstd.ZstdOutputStream
    import graft.functions.ProtoWire
    import graft.sources.{ProtoZstMicroBatchStream, ProtoZstTable}
    val dir = java.nio.file.Files.createTempDirectory("graft_mbs_t")
      .toFile.getAbsolutePath
    def writeFile(name: String, keys: Seq[String]): Unit = {
      val os = new ZstdOutputStream(new java.io.FileOutputStream(s"$dir/$name"))
      keys.foreach { k =>
        os.write(ProtoWire.delimit(ProtoWire.encodeRow(k.getBytes,
          new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any]))))
      }
      os.close()
    }
    writeFile("a.proto.zst", Seq("k1", "k2"))
    val stream = new ProtoZstMicroBatchStream(dir, ignoreCorrupt = false,
      ProtoZstTable.Schema, Array.empty)
    val o0 = stream.initialOffset()
    val o1 = stream.latestOffset()
    assert(stream.planInputPartitions(o0, o1).length === 1)
    // a second wave, sorting after the first, is delivered alone
    writeFile("b.proto.zst", Seq("k3"))
    val o2 = stream.latestOffset()
    val batch2 = stream.planInputPartitions(o1, o2)
    assert(batch2.length === 1)
    assert(batch2.head.asInstanceOf[graft.sources.ProtoZstInputPartition]
      .file.endsWith("b.proto.zst"))
    // offsets survive the checkpoint round trip
    assert(stream.deserializeOffset(o2.json()).json() === o2.json())
  }

  test("maxFilesPerTrigger rate-limits the stream; AvailableNow still drains all") {
    val outDir = java.nio.file.Files.createTempDirectory("graft_ratelim")
      .toFile.getAbsolutePath
    Sink.writeNested(CellModel.nestRows(spark, sf0001)
      .repartitionByRange(4, col("key")), outDir)
    val conf = graft.sources.ProtoZstFiles.hadoopConf()
    val nFiles = graft.sources.ProtoZstFiles.list(outDir, conf).length
    assert(nFiles >= 2)
    val name = "q48_ratelimit_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val q = spark.readStream.format("proto-zst")
      .option("maxFilesPerTrigger", 1)
      .load(outDir)
      .select(col("key"), explode(col("columns")).as("c"))
      .writeStream.format("memory").queryName(name)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    // one file admitted per micro-batch, and the run drains exactly
    // the files present at prepare time
    val dataBatches = q.recentProgress.count(_.numInputRows > 0)
    assert(dataBatches === nFiles,
      s"expected $nFiles single-file batches, got $dataBatches")
    // rate limiting must not change WHAT is delivered, only when
    val batchTotal = spark.table(name).count()
    val full = spark.read.format("proto-zst").load(outDir)
      .select(explode(col("columns"))).count()
    assert(batchTotal === full)
  }

  test("maxBytesPerTrigger admits whole files by attested size, at least one") {
    val outDir = java.nio.file.Files.createTempDirectory("graft_bytelim")
      .toFile.getAbsolutePath
    Sink.writeNested(CellModel.nestRows(spark, sf0001)
      .repartitionByRange(4, col("key")), outDir)
    val conf = graft.sources.ProtoZstFiles.hadoopConf()
    val sizes = graft.sources.ProtoZstFiles.listWithSizes(outDir, conf)
      .map(_._2)
    assert(sizes.length >= 2)
    val full = spark.read.format("proto-zst").load(outDir)
      .select(explode(col("columns"))).count()
    def run(budget: Long): (Long, Long) = {
      val name = "q48_bytelim_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val before = graft.sources.MetaIO.dataListings.get()
      val q = spark.readStream.format("proto-zst")
        .option("maxBytesPerTrigger", budget)
        .load(outDir)
        .select(col("key"), explode(col("columns")).as("c"))
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // the sink is manifest-governed: byte admission reads attested
      // sizes from the snapshot, never a data-directory listing
      assert(graft.sources.MetaIO.dataListings.get() === before)
      val batches = q.recentProgress.count(_.numInputRows > 0).toLong
      (batches, spark.table(name).count())
    }
    // soft-max walk (Delta's convention): each batch admits whole files
    // while the running total is still UNDER budget, so the file that
    // crosses the budget ships in the same batch
    def expectedBatches(budget: Long): Long = {
      var batches = 0L; var i = 0
      while (i < sizes.length) {
        var acc = 0L
        while (i < sizes.length && acc < budget) { acc += sizes(i); i += 1 }
        batches += 1
      }
      batches
    }
    val (perFile, rows1) = run(sizes.max)
    assert(perFile === expectedBatches(sizes.max),
      s"expected ${expectedBatches(sizes.max)} batches, got $perFile")
    assert(rows1 === full)
    // a 1-byte budget must still progress (at-least-one rule), never stall
    val (starved, rows2) = run(1L)
    assert(starved === sizes.length.toLong)
    assert(rows2 === full)
    // a budget covering everything drains in one batch
    val (one, rows3) = run(sizes.sum + 1)
    assert(one === 1L)
    assert(rows3 === full)
    // the SOFT max distinguisher: one byte under the total still drains
    // in ONE batch — the crossing (last) file is admitted, where a
    // hard whole-files-that-fit cap would need two
    val (soft, rows4) = run(sizes.sum - 1)
    assert(soft === 1L, s"soft-max budget split into $soft batches")
    assert(rows4 === full)
    // a non-positive budget is a caller bug, refused at scan build
    // (stream construction is async — the refusal surfaces as the
    // query's terminal exception)
    val bad = spark.readStream.format("proto-zst")
      .option("maxBytesPerTrigger", "0").load(outDir)
      .writeStream.format("noop")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      bad.awaitTermination()
    }
    assert(e.getMessage.contains("must be positive") ||
      String.valueOf(e.getCause).contains("must be positive"), e.getMessage)
  }

  test("micro-batch stream skips sliced files by range sidecar; offsets count all") {
    import graft.sources.{ProtoZstMicroBatchStream, ProtoZstTable}
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThan}
    val dir = java.nio.file.Files.createTempDirectory("graft_mbskip")
      .toFile.getAbsolutePath
    // DSv2 write → files carry .range sidecars; range-partitioned so
    // the sidecars are selective
    Sink.writeNested(CellModel.nestRows(spark, sf0001)
      .repartitionByRange(4, col("key")), dir)
    val nFiles = new java.io.File(dir)
      .listFiles((_, n) => n.endsWith(".proto.zst")).length
    assert(nFiles >= 2)
    val filters = Array[org.apache.spark.sql.sources.Filter](
      GreaterThanOrEqual("key", "200".getBytes),
      LessThan("key", "300".getBytes))
    val stream = new ProtoZstMicroBatchStream(dir, ignoreCorrupt = false,
      ProtoZstTable.Schema, filters)
    // offsets are positional over the FULL listing (skip never shifts
    // the offset line), while the planned work drops missed files
    assert(stream.latestOffset().json().toInt === nFiles)
    val parts = stream.planInputPartitions(
      stream.initialOffset(), stream.latestOffset())
    assert(parts.length < nFiles, s"planned ${parts.length} of $nFiles")
  }

  test("aggregate pushdown: manifest first, sidecar fallback, foreign-file veto") {
    import com.github.luben.zstd.ZstdOutputStream
    import graft.functions.ProtoWire
    val dir = java.nio.file.Files.createTempDirectory("graft_aggpush")
      .toFile.getAbsolutePath
    Sink.writeNested(CellModel.nestRows(spark, sf0001)
      .repartitionByRange(4, col("key")), dir)
    def stats() = spark.read.format("proto-zst").load(dir)
      .agg(count("*").as("n"), min(col("key")).as("mn"), max(col("key")).as("mx"))
    // 1) manifest-backed: the pushdown plans from ONE manifest read —
    // no data-dir listing, no per-file sidecar opens
    graft.sources.MetaIO.reset()
    val pushedPlan = stats().queryExecution.executedPlan.toString
    assert(pushedPlan.contains("PushedAggregation"), pushedPlan.take(2000))
    val Array(pushedRow) = stats().collect()
    assert(graft.sources.MetaIO.dataListings.get() === 0L)
    assert(graft.sources.MetaIO.sidecarReads.get() === 0L)
    // ground truth through the ordinary scan path
    val keys = spark.read.format("proto-zst").load(dir).collect()
      .map(r => new String(r.getAs[Array[Byte]](0)))
    assert(pushedRow.getLong(0) === keys.length.toLong)
    assert(new String(pushedRow.getAs[Array[Byte]](1)) === keys.min)
    assert(new String(pushedRow.getAs[Array[Byte]](2)) === keys.max)
    // 2) a legacy directory (no manifest) still pushes down, now from
    // the per-file sidecars
    val conf = graft.sources.ProtoZstFiles.hadoopConf()
    val mp = new org.apache.hadoop.fs.Path(dir, graft.sources.GenManifest.DirName)
    mp.getFileSystem(conf).delete(mp, true)
    val sidecarPlan = stats().queryExecution.executedPlan.toString
    assert(sidecarPlan.contains("PushedAggregation"), sidecarPlan.take(2000))
    val Array(scRow) = stats().collect()
    assert(scRow.getLong(0) === keys.length.toLong)
    // 3) a sidecar-less foreign file flips the SAME query back to a
    // real scan-and-aggregate — degraded, never wrong
    val os = new ZstdOutputStream(
      new java.io.FileOutputStream(s"$dir/zz-foreign.proto.zst"))
    os.write(ProtoWire.delimit(ProtoWire.encodeRow("~last".getBytes,
      new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any]))))
    os.close()
    val fallbackPlan = stats().queryExecution.executedPlan.toString
    assert(!fallbackPlan.contains("PushedAggregation") &&
      fallbackPlan.contains("Aggregate"), fallbackPlan.take(2000))
    val Array(fb) = stats().collect()
    assert(fb.getLong(0) === keys.length.toLong + 1)
    assert(new String(fb.getAs[Array[Byte]](2)) === "~last") // '~' > digits
  }

  test("stream opened pre-commit adopts manifest offsets; a late manifest fails loudly") {
    import com.github.luben.zstd.ZstdOutputStream
    import graft.functions.ProtoWire
    import graft.sources.{GenManifest, ProtoZstMicroBatchStream, ProtoZstTable}
    val conf = graft.sources.ProtoZstFiles.hadoopConf()
    // 1) a stream opened on a sink directory BEFORE its first commit:
    // empty dir, no manifest — it starts on (empty) listing offsets
    val dir = java.nio.file.Files.createTempDirectory("graft_mbs_pre")
      .toFile.getAbsolutePath
    val stream = new ProtoZstMicroBatchStream(dir, ignoreCorrupt = false,
      ProtoZstTable.Schema, Array.empty)
    assert(stream.latestOffset().json().toInt === 0)
    // 2) the first sink commit creates the manifest; the stream's next
    // poll re-probes and adopts manifest offsets (nothing was delivered
    // in listing mode, so the switch is sound) and delivers every
    // committed file
    Sink.writeNested(CellModel.nestRows(spark, sf0001)
      .repartitionByRange(2, col("key")), dir)
    val n = GenManifest.read(dir, conf).get.entries.length
    assert(n >= 2)
    val end = stream.latestOffset()
    assert(end.json().toInt === n)
    assert(stream.planInputPartitions(stream.initialOffset(), end).length === n)
    // 3) a FOREIGN dir that already delivered files under sorted-listing
    // offsets and only then gains a manifest has no sound offset
    // mapping — the stream must fail loudly, not silently renumber
    val dir2 = java.nio.file.Files.createTempDirectory("graft_mbs_late")
      .toFile.getAbsolutePath
    val os = new ZstdOutputStream(
      new java.io.FileOutputStream(s"$dir2/a.proto.zst"))
    os.write(ProtoWire.delimit(ProtoWire.encodeRow("k1".getBytes,
      new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any]))))
    os.close()
    val s2 = new ProtoZstMicroBatchStream(dir2, ignoreCorrupt = false,
      ProtoZstTable.Schema, Array.empty)
    assert(s2.planInputPartitions(s2.initialOffset(), s2.latestOffset())
      .length === 1)
    GenManifest.append(dir2, conf, Seq(GenManifest.Entry(
      "a.proto.zst", 10L, 1L, sorted = true, "6b31", "6b31")))
    val ex = intercept[IllegalStateException](s2.latestOffset())
    assert(ex.getMessage.contains("gained a manifest"))
  }

  test("legacy empty-min sidecar vetoes MIN/MAX pushdown; COUNT(*) survives") {
    import graft.sources.RangeSidecar
    val dir = java.nio.file.Files.createTempDirectory("graft_sideveto")
      .toFile.getAbsolutePath
    Sink.writeNested(CellModel.nestRows(spark, sf0001)
      .repartitionByRange(3, col("key")), dir)
    val conf = graft.sources.ProtoZstFiles.hadoopConf()
    // make the dir LEGACY (no manifest): pushdown must come from the
    // per-file sidecars, the path the veto protects
    val mp = new org.apache.hadoop.fs.Path(dir, graft.sources.GenManifest.DirName)
    mp.getFileSystem(conf).delete(mp, true)
    val trueCount = spark.read.format("proto-zst").load(dir).count()
    // rewrite one sidecar to the empty-min sentinel — the shape a
    // pre-normalization writer left when it excluded null-key rows
    // from min/max while still counting them
    val f = new java.io.File(dir).listFiles((_, n) => n.endsWith(".proto.zst"))
      .map(_.getAbsolutePath).sorted.head
    val fp = new org.apache.hadoop.fs.Path(f)
    val fs = fp.getFileSystem(conf)
    val old = RangeSidecar.read(fs, fp).getOrElse(fail("no sidecar"))
    RangeSidecar.write(fs, fp, Array.emptyByteArray, Array.emptyByteArray,
      sorted = false, old.count)
    // MIN/MAX over an empty-sentinel sidecar cannot be trusted (the
    // recorded range may exclude rows that read back as empty keys):
    // the pushdown is vetoed and the query falls back to a real scan
    val mmPlan = spark.read.format("proto-zst").load(dir)
      .agg(min(col("key")), max(col("key")))
      .queryExecution.executedPlan.toString
    assert(!mmPlan.contains("PushedAggregation"), mmPlan.take(2000))
    // COUNT(*) needs only the counts, which the sentinel sidecar still
    // carries — it keeps planning from metadata and stays correct
    val cFrame = spark.read.format("proto-zst").load(dir).agg(count("*"))
    assert(cFrame.queryExecution.executedPlan.toString
      .contains("PushedAggregation"))
    assert(cFrame.collect()(0).getLong(0) === trueCount)
  }

  test("an in-flight write's task files stay invisible until the manifest commit") {
    import com.github.luben.zstd.ZstdOutputStream
    import graft.functions.ProtoWire
    import graft.sources.{GenManifest, ProtoZstMicroBatchStream, ProtoZstTable}
    val conf = graft.sources.ProtoZstFiles.hadoopConf()
    val dir = java.nio.file.Files.createTempDirectory("graft_inflight")
      .toFile.getAbsolutePath
    // simulate the task-commit → job-commit window: the writer marked
    // the dir (driver-side, before tasks), one task has renamed its
    // file into place, the job's manifest commit has NOT happened
    GenManifest.mark(dir, conf)
    val os = new ZstdOutputStream(
      new java.io.FileOutputStream(s"$dir/part-task.proto.zst"))
    os.write(ProtoWire.delimit(ProtoWire.encodeRow("k1".getBytes,
      new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any]))))
    os.close()
    // batch scan: the governed dir reads as EMPTY (a listing would
    // have surfaced the unpublished — possibly later aborted — file)
    assert(spark.read.format("proto-zst").load(dir).count() === 0L)
    // streaming: same — offsets stay at zero until the commit
    val stream = new ProtoZstMicroBatchStream(dir, ignoreCorrupt = false,
      ProtoZstTable.Schema, Array.empty)
    assert(stream.latestOffset().json().toInt === 0)
    // the job commit publishes atomically; both paths now see the file
    GenManifest.append(dir, conf, Seq(GenManifest.Entry(
      "part-task.proto.zst", 10L, 1L, sorted = true, "6b31", "6b31")))
    assert(spark.read.format("proto-zst").load(dir).count() === 1L)
    assert(stream.latestOffset().json().toInt === 1)
  }

  test("v1 (pre-normalization) sidecars answer counts but never ranges") {
    import graft.sources.RangeSidecar
    val dir = java.nio.file.Files.createTempDirectory("graft_v1side")
      .toFile.getAbsolutePath
    Sink.writeNested(CellModel.nestRows(spark, sf0001)
      .repartitionByRange(3, col("key")), dir)
    val conf = graft.sources.ProtoZstFiles.hadoopConf()
    val mp = new org.apache.hadoop.fs.Path(dir, graft.sources.GenManifest.DirName)
    mp.getFileSystem(conf).delete(mp, true)
    val trueCount = spark.read.format("proto-zst").load(dir).count()
    // rewrite one sidecar AS a v1 vintage, keeping its (correct)
    // range and count: a pre-normalization writer may have excluded
    // null-key rows from the range while counting them, and the bytes
    // alone can't prove this file didn't — so the version is the gate
    val f = new java.io.File(dir).listFiles((_, n) => n.endsWith(".proto.zst"))
      .map(_.getAbsolutePath).sorted.head
    val fp = new org.apache.hadoop.fs.Path(f)
    val fs = fp.getFileSystem(conf)
    val old = RangeSidecar.read(fs, fp).getOrElse(fail("no sidecar"))
    assert(old.normalized) // current writer attests normalization
    def hex(b: Array[Byte]) = b.map(x => f"${x & 0xff}%02x").mkString
    val osc = fs.create(RangeSidecar.sidecar(fp), true)
    osc.write((s"v1\n${hex(old.min)}\n${hex(old.max)}\n1\n${old.count}\n")
      .getBytes("UTF-8")); osc.close()
    assert(!RangeSidecar.read(fs, fp).get.normalized)
    // MIN/MAX pushdown is vetoed by the v1 vintage...
    val mmPlan = spark.read.format("proto-zst").load(dir)
      .agg(min(col("key")), max(col("key")))
      .queryExecution.executedPlan.toString
    assert(!mmPlan.contains("PushedAggregation"), mmPlan.take(2000))
    // ...COUNT(*) still answers from metadata, correctly
    val cFrame = spark.read.format("proto-zst").load(dir).agg(count("*"))
    assert(cFrame.queryExecution.executedPlan.toString
      .contains("PushedAggregation"))
    assert(cFrame.collect()(0).getLong(0) === trueCount)
    // ...and range SKIPPING never trusts the v1 file: a predicate that
    // provably misses the v1 file's recorded range still scans it
    // (normalized siblings keep skipping, so planned < total only
    // through them; the v1 file is always planned)
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThan}
    val probe = Array[org.apache.spark.sql.sources.Filter](
      GreaterThanOrEqual("key", old.max :+ 0xff.toByte),
      LessThan("key", old.max :+ 0xff.toByte :+ 0xff.toByte))
    val kept = graft.sources.ProtoZstScan.skipByRange(
      new java.io.File(dir).listFiles((_, n) => n.endsWith(".proto.zst"))
        .map(_.getAbsolutePath).sorted,
      probe, new graft.sources.SerializableHadoopConf(conf))
    assert(kept.contains(f), "a v1 sidecar was trusted for range skip")
  }

  test("runtime In-filter drops whole files by sidecar range, keeps matches") {
    import graft.sources.{ProtoZstScan, ProtoZstTable, ProtoZstInputPartition}
    val outDir = Sink.rangedFixture(spark, sf0001)
    val scan = new ProtoZstScan(Seq(outDir), ignoreCorrupt = false,
      ProtoZstTable.Schema, Array.empty)
    val before = scan.planInputPartitions().length
    assert(before >= 3, s"fixture has only $before files")
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("key",
        Array[Any]("12".getBytes, "13".getBytes))))
    val after = scan.planInputPartitions()
    assert(after.length < before, s"no prune: ${after.length} of $before")
    // sound: the surviving files still cover the filtered keys
    val conf = graft.sources.ProtoZstFiles.hadoopConf()
    val survivors = after.map(_.asInstanceOf[ProtoZstInputPartition].file)
    val keys = survivors.flatMap { f =>
      val in = new com.github.luben.zstd.ZstdInputStream(
        new org.apache.hadoop.fs.Path(f).getFileSystem(conf)
          .open(new org.apache.hadoop.fs.Path(f)))
      val bytes = try in.readAllBytes() finally in.close()
      graft.functions.ProtoWire.decodeRowsPruned(bytes, wantColumns = false,
        keep = _ => true).map(r => new String(r.key)).toSeq
    }
    assert(keys.contains("12") && keys.contains("13"))
  }

  test("multi-path load reads exactly the union of the named files") {
    val outDir = java.nio.file.Files.createTempDirectory("graft_mp")
      .toFile.getAbsolutePath
    Sink.writeNested(CellModel.nestRows(spark, sf0001)
      .repartitionByRange(4, col("key")), outDir)
    val files = new java.io.File(outDir)
      .listFiles((_, n) => n.endsWith(".proto.zst")).map(_.getAbsolutePath)
      .sorted
    assert(files.length === 4)
    val two = spark.read.format("proto-zst").load(files(0), files(2))
    val all = spark.read.format("proto-zst").load(outDir)
    val a = spark.read.format("proto-zst").load(files(0))
    val c = spark.read.format("proto-zst").load(files(2))
    assert(two.rdd.getNumPartitions === 2)
    assert(two.count() === a.count() + c.count())
    assert(two.count() < all.count())
  }

  test("q77 optimize packs small files losslessly and keeps sidecars") {
    val before = spark.read.format("proto-zst")
      .load(Sink.nestedFixture(spark, sf0001))
      .select(decode(col("key"), "UTF-8").as("key"), col("columns"))
    val (optDir, (nBefore, nAfter)) =
      SinkMaintain.optimizedFixture(spark, sf0001)
    val after = spark.read.format("proto-zst").load(optDir)
      .select(decode(col("key"), "UTF-8").as("key"), col("columns"))
    assert(after.exceptAll(before).count() === 0)
    assert(before.exceptAll(after).count() === 0)
    // range partitioning to 16 may leave a few empty partitions (no
    // file written) — what matters is genuine fragmentation going in
    // and a strictly smaller file count coming out
    assert(nBefore >= 8 && nAfter < nBefore,
      s"optimize did not pack: $nBefore -> $nAfter")
    // every packed file keeps a .range sidecar (plan-time skipping
    // survives maintenance) and attests key-sorted rows
    val conf = graft.sources.ProtoZstFiles.hadoopConf()
    val files = graft.sources.ProtoZstFiles.list(optDir, conf)
    val fs = new org.apache.hadoop.fs.Path(optDir).getFileSystem(conf)
    assert(files.length === nAfter)
    files.foreach { f =>
      val r = graft.sources.RangeSidecar
        .read(fs, new org.apache.hadoop.fs.Path(f))
      assert(r.nonEmpty && r.get.sorted, f)
    }
  }

  test("extension-registered SQL functions work and stay codegen'd") {
    assert(spark.sql(
      "SELECT sorted_intersect_count(array(1L,2L,5L), array(2L,3L,5L)) c")
      .collect()(0).getInt(0) === 2)
    assert(spark.sql(
      "SELECT dot_long(array(1L,2L,3L), array(4L,5L,6L)) d")
      .collect()(0).getLong(0) === 32L)
    val framed = spark.sql(
      "SELECT proto_delimited(proto_row(cast('k' as binary), " +
        "array(named_struct('name', cast('c' as binary), " +
        "'value', cast('v' as binary), 'write_time', 7L)))) b")
      .collect()(0).getAs[Array[Byte]](0)
    val stats = graft.functions.ProtoWire.decodeStats(framed)
    assert(stats === ((1L, 1L)))
    // cdc_chunks60: one chunk spanning the whole (short) array, hash =
    // md5_prefix60 of the joined words
    val cdc = spark.sql(
      "SELECT c.ci, c.s, c.len, c.h = md5_prefix60('a b') AS ok " +
        "FROM (SELECT explode(cdc_chunks60(array('a','b'), 8)) c)")
      .collect()(0)
    assert((cdc.getLong(0), cdc.getInt(1), cdc.getInt(2), cdc.getBoolean(3))
      === ((0L, 1, 2, true)))
    // merge_columns reachable from SQL: b wins the write_time tie
    val merged = spark.sql(
      "SELECT merge_columns(" +
        "array(named_struct('name', cast('c' as binary), " +
        "'value', cast('old' as binary), 'write_time', 1L)), " +
        "array(named_struct('name', cast('c' as binary), " +
        "'value', cast('new' as binary), 'write_time', 1L))) m")
      .collect()(0).getSeq[org.apache.spark.sql.Row](0)
    assert(merged.length === 1 &&
      new String(merged.head.getAs[Array[Byte]](1), "UTF-8") === "new")
  }

  test("malformed SQL calls to registered functions fail at analysis, not per row") {
    // wrong arity: named error instead of IndexOutOfBounds from es(1)
    val e1 = intercept[Exception](spark.sql("SELECT gram_hash60('x')"))
    assert(e1.getMessage.contains("gram_hash60"), e1.getMessage)
    // wrong input type: ExpectsInputTypes rejects during analysis
    intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT md5_prefix60(cast(42 as int))").collect())
    intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT dot_long(array('a'), array('b'))").collect())
    // non-positive literal modulus: caught at build, never / by zero per row
    val e2 = intercept[Exception](
      spark.sql("SELECT cdc_chunks60(array('a'), 0)"))
    assert(e2.getMessage.contains("cdc_chunks60"), e2.getMessage)
    // non-literal width: rejected with the function named
    val e3 = intercept[Exception](spark.sql(
      "SELECT gram_hash60(text, n_chars) FROM (SELECT 'x' text, 3 n_chars)"))
    assert(e3.getMessage.contains("gram_hash60"), e3.getMessage)
  }

  test("startingWriteTimeUs skips exactly the provably-old backlog prefix") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sts")
      .toFile.getAbsolutePath
    val cells = CellModel.liveCells(spark, sf0001)
    val mid = cells.agg(expr("percentile_approx(write_time, 0.5)"))
      .head.getLong(0)
    def nest(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(col("key"))
      .agg(sort_array(collect_list(struct(col("name"), col("value"),
        col("write_time")))).as("columns")).coalesce(1)
    // two commits in time order: the backlog, then the live edge
    Sink.writeNested(nest(cells.filter(col("write_time") < mid)), dir)
    Sink.writeNested(nest(cells.filter(col("write_time") >= mid)), dir)
    def drain(name: String, opts: Map[String, String]): Long = {
      val q = opts.foldLeft(spark.readStream.format("proto-zst")) {
        case (r, (k, v)) => r.option(k, v)
      }.load(dir)
        .select(col("key"), explode(col("columns")).as("c"))
        .writeStream.format("memory").queryName(name).outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.table(name).count()
    }
    val newRows = cells.filter(col("write_time") >= mid).count()
    val allRows = cells.count()
    // first start at the instant: the old-window file is never planned
    assert(drain("sts_cut", Map("startingWriteTimeUs" -> mid.toString))
      === newRows)
    // no option: the full backlog replays
    assert(drain("sts_all", Map.empty) === allRows)
    // an instant past everything: nothing replays, the stream tails
    assert(drain("sts_future",
      Map("startingWriteTimeUs" -> Long.MaxValue.toString)) === 0L)
  }

  test("batch/stream seam at one instant covers every cell exactly once") {
    // the lambda-architecture handoff the temporal options exist for:
    // a batch job reads the CLOSED window (maxWriteTimeUs = T-1), a
    // stream tails from the same instant (startingWriteTimeUs = T) —
    // together they must see each cell exactly once, no gap at the
    // seam and no double count, PROVIDED files are written window-pure
    // (each wholly before or from T, the sink layout TWCS maintains)
    val dir = java.nio.file.Files.createTempDirectory("graft_seam")
      .toFile.getAbsolutePath
    val cells = CellModel.liveCells(spark, sf0001)
    val t = cells.agg(expr("percentile_approx(write_time, 0.5)"))
      .head.getLong(0)
    def nest(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(col("key"))
      .agg(sort_array(collect_list(struct(col("name"), col("value"),
        col("write_time")))).as("columns")).coalesce(1)
    Sink.writeNested(nest(cells.filter(col("write_time") < t)), dir)
    Sink.writeNested(nest(cells.filter(col("write_time") >= t)), dir)
    val batchSide = spark.read.format("proto-zst")
      .option("maxWriteTimeUs", (t - 1).toString).load(dir)
      .select(explode(col("columns")).as("c"))
      .select(col("c.name")).collect().map(_.getAs[Array[Byte]](0).toSeq)
    val q = spark.readStream.format("proto-zst")
      .option("startingWriteTimeUs", t.toString).load(dir)
      .select(explode(col("columns")).as("c"))
      .select(col("c.name"))
      .writeStream.format("memory").queryName("seam_stream")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamSide = spark.table("seam_stream").collect()
      .map(_.getAs[Array[Byte]](0).toSeq)
    val total = cells.count()
    assert(batchSide.length + streamSide.length === total,
      s"${batchSide.length} + ${streamSide.length} != $total")
    // cell names are unique corpus-wide: exactly-once ⟺ no overlap
    assert((batchSide.toSet & streamSide.toSet).isEmpty, "seam overlap")
  }

  test("q223 frame slicing: one file becomes many partitions, rows partitioned exactly") {
    import graft.sources.SplitSidecar
    val out = Sink.slicedFixture(spark, sf0001)
    val conf = graft.sources.ProtoZstFiles.hadoopConf()
    val dirPath = new org.apache.hadoop.fs.Path(out)
    val fs = dirPath.getFileSystem(conf)
    val dataFiles = fs.listStatus(dirPath)
      .filter(_.getPath.getName.endsWith(".proto.zst")).map(_.getPath)
    assert(dataFiles.length === 1, "fixture must be ONE oversized file")
    // the writer recorded real frame checkpoints
    val cuts = SplitSidecar.read(fs, dataFiles.head)
      .getOrElse(fail("no .split sidecar written"))
    assert(cuts.length >= 2, s"need several checkpoints, got ${cuts.length}")
    // forced slicing actually fans out: many partitions for one file
    val slicedDf = spark.read.format("proto-zst")
      .option("splitFileBytes", "1").load(out)
    assert(slicedDf.rdd.getNumPartitions === cuts.length + 1,
      "every frame range must become its own partition at threshold 1")
    // and the DEFAULT read of the same dir stays one partition per file
    val plain = spark.read.format("proto-zst").load(out)
    assert(plain.rdd.getNumPartitions === 1)
    // slices partition the rows exactly: nothing lost or doubled
    val a = slicedDf.select(decode(col("key"), "UTF-8"),
      size(col("columns"))).collect().map(_.toString).sorted
    val b = plain.select(decode(col("key"), "UTF-8"),
      size(col("columns"))).collect().map(_.toString).sorted
    assert(a.toSeq === b.toSeq)
    // every slice carries real work (frame cut every 64 rows)
    val perPart = slicedDf.rdd
      .mapPartitions(it => Iterator.single(it.size)).collect()
    assert(perPart.forall(_ > 0) && perPart.sum === b.length)
  }

  test("bloom kernel: no false negatives, bounded false positives, fs roundtrip, foreign bytes degrade") {
    import graft.sources.BloomSidecar
    val words = new Array[Long](BloomSidecar.Words)
    val keys = (0 until 5000).map(i => s"key:$i".getBytes("UTF-8"))
    keys.foreach(BloomSidecar.add(words, _))
    // the load-bearing guarantee: a bloom NEVER excludes an added key
    keys.foreach(k => assert(BloomSidecar.mightContain(words, k)))
    // an empty filter excludes everything (all bits zero)
    val empty = new Array[Long](BloomSidecar.Words)
    (0 until 1000).foreach(i => assert(
      !BloomSidecar.mightContain(empty, s"probe:$i".getBytes("UTF-8"))))
    // at 5000 keys the fill gives ~(3·5000/2^17)^3 ≈ 0.15% FP — a
    // disjoint deterministic 1000-probe set sees only a handful
    val fp = (0 until 1000).count(i =>
      BloomSidecar.mightContain(words, s"other:$i".getBytes("UTF-8")))
    assert(fp <= 20, s"false-positive burst: $fp/1000")
    // filesystem roundtrip is bit-exact
    val dir = java.nio.file.Files.createTempDirectory("graft_bloomrt")
      .toFile.getAbsolutePath
    val conf = graft.sources.ProtoZstFiles.hadoopConf()
    val data = new org.apache.hadoop.fs.Path(dir, "x.proto.zst")
    val fs = data.getFileSystem(conf)
    BloomSidecar.write(fs, data, words)
    assert(BloomSidecar.read(fs, data).exists(_.sameElements(words)))
    // foreign/truncated bytes read as None — the probe degrades to a
    // scan, never misreads garbage as a filter
    val os = fs.create(BloomSidecar.sidecar(data), true)
    os.write("v1 999 9\njunk".getBytes("UTF-8")); os.close()
    assert(BloomSidecar.read(fs, data).isEmpty)
  }

  test("bloom point-get skips key-free files task-side; absence degrades; ranges never probe") {
    import graft.sources.{BloomSidecar, MetaIO, ProtoZstFiles}
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_bloom")
      .toFile.getAbsolutePath
    val conf = ProtoZstFiles.hadoopConf()
    // four commits; every file carries the range sentinels "0000" and
    // "zzzz" plus its own middle keys, so every manifest range covers
    // every probe — range skip is POWERLESS by construction and only
    // the bloom can prove a file key-free
    (0 until 4).foreach { b =>
      val keys = Seq("0000", "zzzz") ++
        (0 until 8).filter(_ % 4 == b).map(i => f"k$i%02d")
      Sink.writeNested(keys.toDF("k")
        .select(encode(col("k"), "UTF-8").as("key"),
          array(struct(encode(col("k"), "UTF-8").as("name"),
            encode(col("k"), "UTF-8").as("value"),
            lit(1L).as("write_time"))).as("columns"))
        .repartition(1), dir)
    }
    def get(ks: String*) = {
      val r = spark.read.format("proto-zst").load(dir)
      val f = if (ks.length == 1) r.filter(col("key") === lit(ks.head.getBytes("UTF-8")))
        else r.filter(col("key").isin(ks.map(_.getBytes("UTF-8")): _*))
      f.select(decode(col("key"), "UTF-8")).collect()
        .map(_.getString(0)).sorted.toSeq
    }
    // a present key: found; exactly the three key-free epochs skip
    MetaIO.reset()
    assert(get("k01") === Seq("k01"))
    assert(MetaIO.bloomProbes.get() === 4,
      s"every planned file must probe (${MetaIO.bloomProbes.get()})")
    assert(MetaIO.bloomSkips.get() === 3,
      s"the three key-free epochs must skip (${MetaIO.bloomSkips.get()})")
    // planning untouched: governed scans still list nothing and read
    // no plan-time sidecars — the probe is an executor-side read
    assert(MetaIO.dataListings.get() === 0L)
    assert(MetaIO.sidecarReads.get() === 0L)
    // an absent key: zero rows, every file skipped without a decode
    MetaIO.reset()
    assert(get("nope").isEmpty)
    assert(MetaIO.bloomSkips.get() === 4)
    // IN across two epochs: both found, the other two epochs skip
    MetaIO.reset()
    assert(get("k01", "k02") === Seq("k01", "k02"))
    assert(MetaIO.bloomProbes.get() === 4 && MetaIO.bloomSkips.get() === 2)
    // a RANGE scan never touches a bloom (the gate fires only when the
    // conjunction confines key to a finite set)
    MetaIO.reset()
    assert(spark.read.format("proto-zst").load(dir)
      .filter(col("key") >= lit("k00".getBytes("UTF-8")) &&
        col("key") <= lit("k07".getBytes("UTF-8"))).count() === 8L)
    assert(MetaIO.bloomProbes.get() === 0L)
    // absence degrades to scanning, never to dropping: delete one
    // file's bloom sidecar — the sidecar-less file decodes normally,
    // answers stay exact, the other three still skip
    val victim = new org.apache.hadoop.fs.Path(
      ProtoZstFiles.list(dir, conf).min)
    victim.getFileSystem(conf)
      .delete(BloomSidecar.sidecar(victim), false)
    MetaIO.reset()
    assert(get("nope2").isEmpty)
    assert(MetaIO.bloomProbes.get() === 3 && MetaIO.bloomSkips.get() === 3)
    assert(get("k01") === Seq("k01"))
    assert(get("0000") === Seq("0000", "0000", "0000", "0000"))
  }
}
