package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{CellModel, Sink, Tombstones}
import graft.sources.{GenManifest, MetaIO, ProtoZstFiles}

/** Equality-delete tombstones: O(erase list) logical erasure, scan-side
  * anti-set semantics (including the agg-pushdown veto and the
  * tombstone-bytes cap), and the physical purge that makes the bytes
  * go — the engine's gc_grace lifecycle at the table tier.
  */
class TombstoneSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sf0001}

  private def freshDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toFile.getAbsolutePath

  private def conf = ProtoZstFiles.hadoopConf()

  private def keysBetween(dir: String, lo: String, hi: String): Seq[Array[Byte]] =
    spark.read.format("proto-zst").load(dir)
      .select(col("key"))
      .filter(col("key") >= lit(lo.getBytes("UTF-8")) &&
        col("key") < lit(hi.getBytes("UTF-8")))
      .distinct().collect().map(_.getAs[Array[Byte]](0)).toIndexedSeq

  private def buildGen(prefix: String): String = {
    val dir = freshDir(prefix)
    Sink.writeNested(CellModel.nestRows(spark, sf0001)
      .repartitionByRange(4, col("key")), dir)
    dir
  }

  test("logical erase: O(erase list) commit, zero data files rewritten, rows invisible") {
    val dir = buildGen("graft_tomb_log")
    val total = spark.read.format("proto-zst").load(dir).count()
    val victims = keysBetween(dir, "30", "40")
    assert(victims.nonEmpty)
    val before = GenManifest.read(dir, conf).getOrElse(fail("no manifest"))
    MetaIO.reset()
    Tombstones.eraseKeys(dir, victims)
    // the commit record is O(erase list): one tombstone entry (~100
    // bytes), never the live file set
    assert(MetaIO.commitBytes.get() > 0 && MetaIO.commitBytes.get() < 512,
      s"erase commit wrote ${MetaIO.commitBytes.get()} bytes")
    val after = GenManifest.read(dir, conf).getOrElse(fail("no manifest"))
    // every data file untouched by NAME — nothing was rewritten
    assert(after.dataEntries.map(_.name).toSet ===
      before.entries.map(_.name).toSet)
    assert(after.tombEntries.length === 1)
    val t = after.tombEntries.head
    assert(t.count === victims.length.toLong && t.sorted && t.hasRange)
    // the erased keys are invisible; everything else survives
    val read = spark.read.format("proto-zst").load(dir)
    assert(read.count() === total - victims.length)
    assert(read.filter(col("key") >= lit("30".getBytes("UTF-8")) &&
      col("key") < lit("40".getBytes("UTF-8"))).count() === 0L)
    // a point lookup of an erased key: empty (the anti-set wins even
    // when the file's bloom says the key is physically present)
    assert(read.filter(col("key") === lit(victims.head)).count() === 0L)
  }

  test("live tombstones veto complete agg pushdown; purge restores it") {
    val dir = buildGen("graft_tomb_agg")
    val victims = keysBetween(dir, "30", "40")
    Tombstones.eraseKeys(dir, victims)
    val agg = spark.read.format("proto-zst").load(dir)
      .agg(count(lit(1)).as("n"), min(col("key")).as("mn"))
    // not answered from stats — and the executed count subtracts the
    // erased rows
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("PushedAggregation"),
      s"agg was answered from stats over a tombstoned table:\n$plan")
    val expected = spark.read.format("proto-zst").load(dir).count()
    assert(agg.head().getLong(0) === expected)
    Tombstones.purge(spark, dir)
    val agg2 = spark.read.format("proto-zst").load(dir)
      .agg(count(lit(1)).as("n"))
    assert(agg2.queryExecution.executedPlan.toString
      .contains("PushedAggregation"))
    assert(agg2.head().getLong(0) === expected)
  }

  test("purge: surgical rewrite, bytes gone, tombstones dropped, table unchanged") {
    val dir = buildGen("graft_tomb_purge")
    val victims = keysBetween(dir, "30", "40")
    val logical = spark.read.format("proto-zst").load(dir)
      .filter(!col("key").isin(victims: _*))
      .select(decode(col("key"), "UTF-8").as("key"),
        size(col("columns")).as("n"))
      .collect().map(r => (r.getString(0), r.getInt(1))).sortBy(_._1)
    Tombstones.eraseKeys(dir, victims)
    val preSnap = GenManifest.read(dir, conf).get
    val (rewritten, dropped) = Tombstones.purge(spark, dir)
    assert(dropped === 1)
    assert(rewritten >= 1, "purge must rewrite the affected files")
    val post = GenManifest.read(dir, conf).get
    assert(post.tombEntries.isEmpty)
    // surgical: files whose range can't hold a victim survived by name
    val survivors = preSnap.dataEntries.map(_.name).toSet
      .intersect(post.dataEntries.map(_.name).toSet)
    assert(survivors.nonEmpty, "purge rewrote every file — not surgical")
    assert(post.dataEntries.length === preSnap.dataEntries.length,
      "purge must preserve the data file count (1:1 rewrite here)")
    // physical: no on-disk frame decodes to a victim key any more
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    val victimSet = victims.map(_.toSeq).toSet
    post.dataEntries.foreach { e =>
      val p = new org.apache.hadoop.fs.Path(dir, e.name)
      val in = new com.github.luben.zstd.ZstdInputStream(fs.open(p))
      try graft.functions.ProtoWire.keys(in).foreach(k => assert(
        !victimSet.contains(k.toSeq), s"victim key survived purge in ${e.name}"))
      finally in.close()
    }
    // no tomb-* file remains on disk either (the keys are personal data)
    assert(!ProtoZstFiles.list(dir, conf).exists(
      new org.apache.hadoop.fs.Path(_).getName.startsWith("tomb-")))
    // the logical table is exactly what the tombstoned read showed
    val after = spark.read.format("proto-zst").load(dir)
      .select(decode(col("key"), "UTF-8").as("key"),
        size(col("columns")).as("n"))
      .collect().map(r => (r.getString(0), r.getInt(1))).sortBy(_._1)
    assert(after.toSeq === logical.toSeq)
    // purge with nothing pending is a no-op
    assert(Tombstones.purge(spark, dir) === ((0, 0)))
  }

  test("gc_grace: only tombstones older than the cutoff purge; younger keep shadowing") {
    val dir = buildGen("graft_tomb_grace")
    val oldV = keysBetween(dir, "30", "40")
    val newV = keysBetween(dir, "50", "60")
    assert(oldV.nonEmpty && newV.nonEmpty)
    Tombstones.eraseKeys(dir, oldV, eraseTimeUs = 1000L)
    Tombstones.eraseKeys(dir, newV, eraseTimeUs = 5000L)
    val expected = spark.read.format("proto-zst").load(dir).count()
    // cutoff between the stamps: the old request is ripe, the new is
    // inside grace (an incremental consumer may not have seen it yet)
    val (rw, dropped) = Tombstones.purge(spark, dir, olderThanUs = 3000L)
    assert(dropped === 1 && rw >= 1)
    val snap = GenManifest.read(dir, conf).get
    assert(snap.tombEntries.length === 1 &&
      snap.tombEntries.head.times.exists(_._1 === 5000L))
    val read = spark.read.format("proto-zst").load(dir)
    // logical table unchanged: BOTH erase sets stay invisible
    assert(read.count() === expected)
    assert(read.filter(col("key").isin(oldV: _*)).count() === 0L)
    assert(read.filter(col("key").isin(newV: _*)).count() === 0L)
    // physical: the ripe set's bytes are gone, the graced set's remain
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    val oldSet = oldV.map(_.toSeq).toSet
    val newSet = newV.map(_.toSeq).toSet
    var newSeen = false
    snap.dataEntries.foreach { e =>
      val p = new org.apache.hadoop.fs.Path(dir, e.name)
      val in = new com.github.luben.zstd.ZstdInputStream(fs.open(p))
      try graft.functions.ProtoWire.keys(in).foreach { k =>
          assert(!oldSet.contains(k.toSeq), s"ripe victim in ${e.name}")
          if (newSet.contains(k.toSeq)) newSeen = true
        }
      finally in.close()
    }
    assert(newSeen, "graced victims must remain physically until their purge")
    // the default cutoff clears the rest
    val (_, d2) = Tombstones.purge(spark, dir)
    assert(d2 === 1)
    assert(GenManifest.read(dir, conf).get.tombEntries.isEmpty)
    assert(spark.read.format("proto-zst").load(dir).count() === expected)
  }

  test("maintenance never treats a tombstone as data: OPTIMIZE packs around it") {
    val dir = buildGen("graft_tomb_opt")
    // several small appends so OPTIMIZE has work
    (1 to 3).foreach { i =>
      Sink.writeNested(CellModel.nestRows(spark, sf0001).limit(5)
        .repartition(1), dir)
    }
    val victims = keysBetween(dir, "30", "40")
    Tombstones.eraseKeys(dir, victims)
    val expected = spark.read.format("proto-zst").load(dir).count()
    graft.operators.SinkMaintain.optimizeSink(spark, dir, 1L << 20)
    val snap = GenManifest.read(dir, conf).get
    // the tombstone entry survived the pack, still flagged
    assert(snap.tombEntries.length === 1)
    // and still applies: the packed table reads identically
    assert(spark.read.format("proto-zst").load(dir).count() === expected)
    // no packed data file decodes a victim's row INTO the visible set
    assert(spark.read.format("proto-zst").load(dir)
      .filter(col("key").isin(victims: _*)).count() === 0L)
  }

  test("purging a FULLY-erased file set commits cleanly (zero survivors is not a crash)") {
    val dir = buildGen("graft_tomb_all")
    // erase EVERY key: the staged rewrite writes zero rows, so no
    // staging snapshot commits — that must read as "no survivors",
    // not as a crashed write
    val all = spark.read.format("proto-zst").load(dir)
      .select(col("key")).distinct().collect()
      .map(_.getAs[Array[Byte]](0)).toIndexedSeq
    Tombstones.eraseKeys(dir, all)
    assert(spark.read.format("proto-zst").load(dir).count() === 0L)
    val (rewritten, dropped) = Tombstones.purge(spark, dir)
    assert(dropped === 1 && rewritten >= 1)
    val snap = GenManifest.read(dir, conf).get
    assert(snap.entries.isEmpty, "a fully-erased table is empty, not broken")
    assert(spark.read.format("proto-zst").load(dir).count() === 0L)
    // and it stays writable: a fresh append resurrects nothing
    Sink.writeNested(CellModel.nestRows(spark, sf0001).limit(3)
      .repartition(1), dir)
    assert(spark.read.format("proto-zst").load(dir).count() === 3L)
  }

  test("promoteL0 refuses to move rows out from under a live tombstone") {
    val l0 = buildGen("graft_tomb_l0")
    val l1 = buildGen("graft_tomb_l1")
    val victims = keysBetween(l0, "30", "40")
    Tombstones.eraseKeys(l0, victims)
    val e = intercept[IllegalArgumentException] {
      graft.operators.SinkMaintain.promoteL0(spark, l0, l1)
    }
    assert(e.getMessage.contains("purge"), e.getMessage)
    // purge BOTH levels (l1 holds its own copies of the same keys —
    // erasing them there too makes the end state checkable), then the
    // promotion is safe and resurrects nothing
    Tombstones.eraseKeys(l1, victims)
    Tombstones.purge(spark, l0)
    Tombstones.purge(spark, l1)
    val (p, _, _) = graft.operators.SinkMaintain.promoteL0(spark, l0, l1)
    assert(p >= 1)
    assert(spark.read.format("proto-zst").load(l1)
      .filter(col("key").isin(victims: _*)).count() === 0L)
  }

  test("vacuum sweeps crashed-purge staging and crashed-erase tmp leftovers") {
    val dir = buildGen("graft_tomb_vac")
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    // simulate a crashed purge (staging dir with a data copy) and a
    // crashed eraseKeys (tmp file holding erased keys)
    val stale = new org.apache.hadoop.fs.Path(dir, ".purge-deadbeef")
    fs.mkdirs(stale)
    val os = fs.create(new org.apache.hadoop.fs.Path(stale, "part-x.proto.zst"), true)
    os.write("leftover".getBytes("UTF-8")); os.close()
    val tmb = new org.apache.hadoop.fs.Path(dir, ".tomb-deadbeef")
    val os2 = fs.create(tmb, true)
    os2.write("keys".getBytes("UTF-8")); os2.close()
    // a FOREIGN dot-file (finder/editor state) — not the engine's to
    // delete, at any grace
    val foreign = new org.apache.hadoop.fs.Path(dir, ".DS_Store")
    val os3 = fs.create(foreign, true)
    os3.write("finder".getBytes("UTF-8")); os3.close()
    // both survive a graceful window, then go at grace 0
    assert(graft.operators.SinkMaintain.vacuumUnreferenced(dir) === 0)
    assert(fs.exists(stale) && fs.exists(tmb),
      "leftovers inside the grace window must survive")
    graft.operators.SinkMaintain.vacuumUnreferenced(dir, graceMs = -1000)
    assert(!fs.exists(stale), "stale purge staging must be swept")
    assert(!fs.exists(tmb), "stale erase tmp (it holds erased KEYS) must be swept")
    assert(fs.exists(foreign),
      "vacuum must only match the engine's enumerated staging " +
        "prefixes — foreign dot-files are not its to delete")
    fs.delete(foreign, false)
    // the table itself is untouched
    assert(spark.read.format("proto-zst").load(dir).count() > 0L)
  }

  test("tomb-bearing manifest records publish under bumped v2 headers") {
    val dir = buildGen("graft_tomb_hdr")
    val victims = keysBetween(dir, "30", "40")
    Tombstones.eraseKeys(dir, victims)
    // force a checkpoint cadence hit so a tomb-bearing FULL snapshot
    // also lands (10 commits): tiny appends
    (1 to 10).foreach { _ =>
      Sink.writeNested(CellModel.nestRows(spark, sf0001).limit(1)
        .repartition(1), dir)
    }
    val md = new org.apache.hadoop.fs.Path(dir, "_graft_manifest")
    val fs = md.getFileSystem(conf)
    def header(p: org.apache.hadoop.fs.Path, zstd: Boolean): String = {
      val raw = fs.open(p)
      val in = if (zstd) new com.github.luben.zstd.ZstdInputStream(raw) else raw
      try new String(in.readAllBytes(), "UTF-8").linesIterator.next()
      finally in.close()
    }
    val st = fs.listStatus(md).map(_.getPath)
    val deltas = st.filter(_.getName.endsWith(".delta"))
    val ckpts = st.filter(_.getName.endsWith(".checkpoint.zst"))
    // the erase delta carries the bumped header; tomb-free appends stay v1
    val headers = deltas.map(header(_, zstd = false)).toSet
    assert(headers.contains("graft-delta-v1"))
    // every retained full snapshot CONTAINS the tombstone entry, so it
    // must carry the bumped header an old reader refuses
    assert(ckpts.nonEmpty)
    ckpts.foreach(p =>
      assert(header(p, zstd = true) === "graft-manifest-v2", p.getName))
    // and the current engine reads the mixed log fine
    assert(GenManifest.read(dir, conf).get.tombEntries.length === 1)
  }

  test("tombstone bytes over the cap fail loudly and name the remedy") {
    val dir = buildGen("graft_tomb_cap")
    val victims = keysBetween(dir, "30", "40")
    Tombstones.eraseKeys(dir, victims)
    val e = intercept[Exception] {
      spark.read.format("proto-zst").option("maxTombstoneBytes", "1")
        .load(dir).count()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(m => m.contains("purge")),
      s"cap error must demand a purge: ${msgs(e)}")
  }

  test("streaming feed: tombstone entries keep positions but deliver no rows") {
    val dir = buildGen("graft_tomb_stream")
    val victims = keysBetween(dir, "30", "40")
    val preCount = spark.read.format("proto-zst").load(dir).count()
    Tombstones.eraseKeys(dir, victims)
    // append AFTER the tombstone so its positional slot is interior
    Sink.writeNested(CellModel.nestRows(spark, sf0001).limit(7)
      .repartition(1), dir)
    val ckpt = freshDir("graft_tomb_ck")
    val outName = "tomb_stream_out_" + System.nanoTime()
    val q = spark.readStream.format("proto-zst").load(dir)
      .groupBy().count()
      .writeStream.format("memory").queryName(outName)
      .outputMode("complete")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // the stream is the append LOG: pre-tombstone data files replay in
    // full (no retraction), the tombstone file itself contributes zero
    // rows, the late append flows — so the total is all data rows
    val streamed = spark.table(outName).head().getLong(0)
    assert(streamed === preCount + 7,
      s"streamed $streamed, expected ${preCount + 7} (tombstone file " +
        "must deliver no rows; data files replay unretracted)")
  }
}
