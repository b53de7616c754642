package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{CellModel, Releases, Sink, SinkMaintain}
import graft.sources.{GenManifest, MetaIO, ProtoZstFiles}

/** The generation manifest: commit protocol, manifest-backed planning
  * (zero data-dir listings, zero per-file sidecar reads — the O(files)
  * driver work the manifest exists to kill), and the atomic staged
  * swap every maintenance rewrite commits through.
  */
class ManifestSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sf0001}

  private def freshDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toFile.getAbsolutePath

  private def conf = ProtoZstFiles.hadoopConf()

  /** Spawn a [[graft.tools.RaceCommit]] racer as a SEPARATE JVM — the
    * cross-process half of the commit-arbitration proofs.
    */
  private def spawnRaceCommit(dir: String, tag: String,
      extra: String*): Process = {
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    new ProcessBuilder(
      (Seq(javaBin) ++
        // hadoop's local FS needs the same JDK17 opens the test JVM
        // runs under (build.sbt jdk17AddOpens)
        Seq("java.base/java.lang", "java.base/java.lang.invoke",
          "java.base/java.io", "java.base/java.net",
          "java.base/java.nio", "java.base/java.util",
          "java.base/java.util.concurrent",
          "java.base/sun.nio.ch", "java.base/sun.nio.cs",
          "java.base/sun.security.action")
          .flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED")) ++
        Seq("-cp", cp, "graft.tools.RaceCommit", dir, tag) ++ extra): _*)
      .redirectErrorStream(true).start()
  }

  /** Wait a spawned racer out and return its stdout, failing loudly. */
  private def drainRacer(p: Process, tag: String): String = {
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    assert(p.waitFor(180, java.util.concurrent.TimeUnit.SECONDS),
      s"racer $tag did not finish: $out")
    assert(p.exitValue() === 0, s"racer $tag failed:\n$out")
    out
  }

  test("DSv2 write commits a manifest matching the listing; appends bump the version") {
    val dir = freshDir("graft_man_w")
    Sink.writeNested(CellModel.nestRows(spark, sf0001)
      .repartitionByRange(4, col("key")), dir)
    val s1 = GenManifest.read(dir, conf).getOrElse(fail("no manifest"))
    val listed = ProtoZstFiles.list(dir, conf).map(f =>
      new org.apache.hadoop.fs.Path(f).getName).sorted
    assert(s1.entries.map(_.name).sorted.toSeq === listed.toSeq)
    // per-entry stats are real: bytes match the files, counts sum to
    // the written row count, every range-partitioned file has a range
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    s1.entries.foreach { e =>
      val st = fs.getFileStatus(new org.apache.hadoop.fs.Path(dir, e.name))
      assert(e.bytes === st.getLen, e.name)
      assert(e.hasRange && e.count > 0, e.name)
    }
    val total = spark.read.format("proto-zst").load(dir).count()
    assert(s1.entries.map(_.count).sum === total)
    // a second append commits the union at the next version
    Sink.writeNested(CellModel.nestRows(spark, sf0001).limit(3)
      .repartition(1), dir)
    val s2 = GenManifest.read(dir, conf).getOrElse(fail("no manifest v2"))
    assert(s2.version === s1.version + 1)
    assert(s2.entries.length === s1.entries.length + 1)
    assert(spark.read.format("proto-zst").load(dir).count() === total + 3)
  }

  test("manifest-backed scan plans and executes with zero listings and zero sidecar reads") {
    val dir = freshDir("graft_man_plan")
    Sink.writeNested(CellModel.nestRows(spark, sf0001)
      .repartitionByRange(4, col("key")), dir)
    MetaIO.reset()
    // plain scan + count
    val n = spark.read.format("proto-zst").load(dir).count()
    assert(n > 0)
    // q60-style range predicate: plan-time file skip from the manifest
    val scan = spark.read.format("proto-zst").load(dir)
      .filter(col("key") >= lit("200".getBytes) && col("key") < lit("300".getBytes))
      .select(decode(col("key"), "UTF-8").as("key"))
    assert(scan.rdd.getNumPartitions < 4, "no manifest range skip")
    scan.collect()
    // q64-style stats: answered from the manifest at plan time
    val agg = spark.read.format("proto-zst").load(dir)
      .agg(count("*"), min(col("key")), max(col("key")))
    assert(agg.queryExecution.executedPlan.toString
      .contains("PushedAggregation"))
    agg.collect()
    assert(MetaIO.dataListings.get() === 0L,
      s"${MetaIO.dataListings.get()} data-directory listings at plan/run time")
    assert(MetaIO.sidecarReads.get() === 0L,
      s"${MetaIO.sidecarReads.get()} per-file sidecar reads at plan/run time")
    assert(MetaIO.manifestReads.get() > 0L)
  }

  test("optimize commits via one manifest swap; packed entries replace the smalls") {
    val dir = freshDir("graft_man_opt")
    Sink.writeNested(CellModel.nestRows(spark, sf0001)
      .repartitionByRange(8, col("key")), dir)
    val before = GenManifest.read(dir, conf).get
    val rows = spark.read.format("proto-zst").load(dir)
      .select(decode(col("key"), "UTF-8").as("key"), col("columns"))
    val beforeRows = rows.collect().length
    val (n0, n1) = SinkMaintain.optimizeSink(spark, dir)
    assert(n1 < n0, s"no pack: $n0 -> $n1")
    val after = GenManifest.read(dir, conf).get
    assert(after.version > before.version)
    assert(after.entries.length === n1)
    assert(after.entries.forall(e => e.name.startsWith("packed-")))
    // the listing converged to the manifest (originals GC'd post-commit)
    val listed = ProtoZstFiles.list(dir, conf).map(f =>
      new org.apache.hadoop.fs.Path(f).getName).sorted
    assert(after.entries.map(_.name).sorted.toSeq === listed.toSeq)
    assert(spark.read.format("proto-zst").load(dir).count().toInt === beforeRows)
  }

  /** A fresh directory of 8 small range-partitioned files, with their
    * manifest snapshot and the row count.
    */
  private def fragmented(prefix: String): (String, GenManifest.Snapshot, Long) = {
    val dir = freshDir(prefix)
    Sink.writeNested(CellModel.nestRows(spark, sf0001)
      .repartitionByRange(8, col("key")), dir)
    (dir, GenManifest.read(dir, conf).get,
      spark.read.format("proto-zst").load(dir).count())
  }

  test("a one-bin optimize runs no exchange and writes one key-sorted file") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.util.QueryExecutionListener
    val (dir, s0, n) = fragmented("graft_man_opt_1bin")
    // the whole directory is one bin however the bin count rounds
    val target = s0.dataEntries.map(_.bytes).sum + 1
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        plans.add(qe); ()
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      assert(SinkMaintain.optimizeSink(spark, dir, target) ===
        (s0.dataEntries.length, 1))
      org.apache.spark.GraftBusAccess.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    val walk = new AdaptiveSparkPlanHelper {}
    val executed = plans.asScala.toSeq.map(_.executedPlan)
    assert(executed.nonEmpty, "the pack's write was not captured")
    executed.foreach { p =>
      assert(walk.collect(p) { case e: Exchange => e }.isEmpty,
        s"a one-bin pack planned an exchange:\n$p")
    }
    val pack = GenManifest.read(dir, conf).get.dataEntries.head
    val fs = ProtoZstFiles.fs(new org.apache.hadoop.fs.Path(dir), conf)
    assert(graft.sources.FileIndex.read(fs,
      new org.apache.hadoop.fs.Path(dir, pack.name)).exists(_.sorted),
      "the one-bin pack must attest key-sorted rows")
    assert(spark.read.format("proto-zst").load(dir).count() === n)
  }

  test("optimize leaves its own pack alone and packs only the newer smalls") {
    val (dir, s0, n) = fragmented("graft_man_opt_floor")
    // every file is small and the small set holds the target: the
    // pack must hold it too (rounding the bin count up would split
    // the set into two packs, each under the target)
    val target = s0.dataEntries.map(_.bytes).sum * 3 / 5
    assert(s0.dataEntries.length >= 2 && s0.dataEntries.forall(_.bytes < target),
      s"fixture must be all small files: ${s0.dataEntries.map(_.bytes)}")
    SinkMaintain.optimizeSink(spark, dir, target)
    val pack = GenManifest.read(dir, conf).get.dataEntries.toSeq match {
      case Seq(e) => e
      case es => fail(s"expected one pack, got ${es.map(e => e.name -> e.bytes)}")
    }
    assert(pack.bytes >= target, s"the pack is small: ${pack.bytes} < $target")
    // two small appends: the next OPTIMIZE packs exactly those two and
    // leaves the first pack's entry as it was
    (1 to 2).foreach { _ =>
      Sink.writeNested(CellModel.nestRows(spark, sf0001).limit(3)
        .repartition(1), dir)
    }
    val appended = GenManifest.read(dir, conf).get.dataEntries.map(_.name).toSet -
      pack.name
    assert(appended.size === 2)
    assert(SinkMaintain.optimizeSink(spark, dir, target) === (3, 2))
    val s2 = GenManifest.read(dir, conf).get.dataEntries
    assert(s2.map(_.name).toSet.intersect(appended).isEmpty,
      "the appends were not packed")
    assert(s2.count(e => e.name == pack.name && e.bytes == pack.bytes) === 1,
      s"the first pack was rewritten: ${s2.map(e => e.name -> e.bytes)}")
    assert(spark.read.format("proto-zst").load(dir).count() === n + 6)
  }

  test("uncommitted packed files are invisible to manifest readers") {
    val dir = freshDir("graft_man_crash")
    Sink.writeNested(CellModel.nestRows(spark, sf0001)
      .repartitionByRange(4, col("key")), dir)
    val n0 = spark.read.format("proto-zst").load(dir).count()
    // simulate a crash after staging renames but BEFORE the manifest
    // commit: a duplicate data file lands under an unreferenced name
    val src = ProtoZstFiles.list(dir, conf).head
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(new java.net.URI(
        if (src.startsWith("file:")) src else "file://" + src)),
      java.nio.file.Paths.get(dir, "packed-deadbeef-orphan.proto.zst"))
    // a listing-based reader would double-count; the manifest reader
    // sees exactly the committed set
    assert(spark.read.format("proto-zst").load(dir).count() === n0)
    // and a subsequent optimize (packing the committed smalls) still
    // never surfaces the orphan
    SinkMaintain.optimizeSink(spark, dir)
    assert(spark.read.format("proto-zst").load(dir).count() === n0)
  }

  test("vacuumUnreferenced removes crash garbage but respects grace and the manifest") {
    val dir = freshDir("graft_man_gc")
    Sink.writeNested(CellModel.nestRows(spark, sf0001)
      .repartitionByRange(4, col("key")), dir)
    val n0 = spark.read.format("proto-zst").load(dir).count()
    val committed = ProtoZstFiles.list(dir, conf).length
    // crash garbage: an unreferenced packed file + a stale staging dir
    val src = ProtoZstFiles.list(dir, conf).head
    val orphan = java.nio.file.Paths.get(dir, "packed-dead-orphan.proto.zst")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(new java.net.URI(
        if (src.startsWith("file:")) src else "file://" + src)), orphan)
    // one stale staging dir per prefix of the engine's vocabulary
    val staging = SinkMaintain.StagingPrefixes.map(p =>
      new java.io.File(dir, p + "dead"))
    staging.foreach(_.mkdir())
    // inside the grace window nothing moves (could be an in-flight job)
    assert(SinkMaintain.vacuumUnreferenced(dir) === 0)
    assert(java.nio.file.Files.exists(orphan))
    assert(staging.forall(_.exists()))
    // past the grace window the orphan and staging dirs go; committed
    // files and the readable table are untouched
    assert(SinkMaintain.vacuumUnreferenced(dir, graceMs = 0L) === 1)
    assert(!java.nio.file.Files.exists(orphan))
    staging.foreach(d => assert(!d.exists(), s"${d.getName} survived"))
    assert(ProtoZstFiles.list(dir, conf).length === committed)
    assert(spark.read.format("proto-zst").load(dir).count() === n0)
  }

  test("appendEpoch commits an epoch exactly once; replays are refused") {
    val dir = freshDir("graft_man_epoch")
    val e1 = GenManifest.Entry("part-a.proto.zst", 10L, 1L, sorted = true,
      "00", "01")
    val e1r = GenManifest.Entry("part-a2.proto.zst", 10L, 1L, sorted = true,
      "00", "01")
    val e2 = GenManifest.Entry("part-b.proto.zst", 20L, 2L, sorted = true,
      "02", "03")
    // first commit of (query q, epoch 7) publishes
    assert(GenManifest.appendEpoch(dir, conf, "q/7", Seq(e1)).isDefined)
    // a replayed epoch 7 (retried tasks wrote e1r for the SAME data)
    // must be refused — the caller deletes e1r instead of publishing
    assert(GenManifest.appendEpoch(dir, conf, "q/7", Seq(e1r)).isEmpty)
    // the next epoch and other queries proceed normally
    assert(GenManifest.appendEpoch(dir, conf, "q/8", Seq(e2)).isDefined)
    assert(GenManifest.appendEpoch(dir, conf, "q2/7", Seq.empty).isDefined)
    val s = GenManifest.read(dir, conf).get
    assert(s.entries.map(_.name) === Vector("part-a.proto.zst",
      "part-b.proto.zst"))
    // epoch retention is max-per-query (monotonic commits): committing
    // q/8 PRUNES q/7 — a long-lived stream keeps the snapshot at one
    // key per query, never one per micro-batch ever committed
    assert(s.epochs === Set("q/8", "q2/7"))
    // the epoch markers survive ordinary (batch) appends on the same dir
    GenManifest.append(dir, conf, Seq(GenManifest.Entry("part-c.proto.zst",
      5L, 1L, sorted = true, "04", "05")))
    assert(GenManifest.read(dir, conf).get.epochs === Set("q/8", "q2/7"))
    assert(GenManifest.appendEpoch(dir, conf, "q/8", Seq(e1r)).isEmpty)
    // a STALE epoch below the retained max is also a replay, even
    // though its own key was pruned from the set — monotonicity is the
    // refusal rule, not set membership
    assert(GenManifest.appendEpoch(dir, conf, "q/7", Seq(e1r)).isEmpty)
    assert(GenManifest.appendEpoch(dir, conf, "q/6", Seq(e1r)).isEmpty)
    // non-numeric keys (foreign callers) keep exact set semantics
    assert(GenManifest.appendEpoch(dir, conf, "release-final", Seq.empty).isDefined)
    assert(GenManifest.appendEpoch(dir, conf, "release-final", Seq.empty).isEmpty)
    assert(GenManifest.read(dir, conf).get.epochs ===
      Set("q/8", "q2/7", "release-final"))
  }

  test("a losing concurrent commit retries onto the latest snapshot") {
    val dir = freshDir("graft_man_race")
    val e1 = GenManifest.Entry("a.proto.zst", 10L, 1L, sorted = true, "00", "01")
    val e2 = GenManifest.Entry("b.proto.zst", 20L, 2L, sorted = true, "02", "03")
    GenManifest.append(dir, conf, Seq(e1))
    // occupy the version the next commit will try first: the commit
    // must lose the publish, re-read, and land one version later with
    // the update applied exactly once
    val md = new org.apache.hadoop.fs.Path(dir, GenManifest.DirName)
    val fs = md.getFileSystem(conf)
    val blocker = new org.apache.hadoop.fs.Path(md,
      f"v${2L}%020d.delta")
    val os = fs.create(blocker, true)
    // the blocker is what a concurrent winner would have committed:
    // a delta record adding its own file on top of the v1 state
    os.write(("graft-delta-v1\n2\n" +
      "+\tc.proto.zst\t30\t3\t1\t04\t05\t\t\n").getBytes("UTF-8")); os.close()
    val committed = GenManifest.append(dir, conf, Seq(e2))
    assert(committed.version === 3L)
    assert(committed.entries.count(_.name == "b.proto.zst") === 1)
    val latest = GenManifest.read(dir, conf).get
    assert(latest.version === 3L)
    // the loser's retry preserved the winner's commit AND applied its own
    assert(latest.entries.map(_.name).toSet ===
      Set("a.proto.zst", "b.proto.zst", "c.proto.zst"))
  }

  test("q148 erasure is surgical: untouched files keep their bytes, range is gone") {
    val dir = freshDir("graft_man_erase")
    Sink.writeNested(CellModel.nestRows(spark, sf0001)
      .repartitionByRange(8, col("key")), dir)
    val before = GenManifest.read(dir, conf).getOrElse(fail("no manifest"))
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    def mtime(n: String) =
      fs.getFileStatus(new org.apache.hadoop.fs.Path(dir, n)).getModificationTime
    val mtimes = before.entries.map(e => e.name -> mtime(e.name)).toMap
    val preTotal = spark.read.format("proto-zst").load(dir).count()
    val lo = "200".getBytes("UTF-8"); val hi = "300".getBytes("UTF-8")
    val inRange = spark.read.format("proto-zst").load(dir)
      .filter(col("key") >= lit(lo) && col("key") < lit(hi)).count()
    assert(inRange > 0, "fixture must have keys to erase")

    val (touched, untouched) = SinkMaintain.eraseRange(spark, dir, lo, hi)
    assert(touched >= 1 && untouched >= 1,
      s"erase must rewrite some files and spare others ($touched/$untouched)")

    val after = GenManifest.read(dir, conf).getOrElse(fail("no manifest v2"))
    val afterNames = after.entries.map(_.name).toSet
    // spared files survive with IDENTICAL name and mtime — never rewritten
    val spared = before.entries.map(_.name).filter(afterNames)
    assert(spared.length === untouched)
    spared.foreach(n => assert(mtime(n) === mtimes(n), s"$n was rewritten"))
    // rewritten originals are deleted from disk; replacements are erased-*
    before.entries.map(_.name).filterNot(afterNames).foreach { n =>
      assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, n)), s"$n not GC'd")
    }
    assert(afterNames.diff(before.entries.map(_.name).toSet)
      .forall(_.startsWith("erased-")))
    // the range is byte-gone and nothing else moved
    val postFrame = spark.read.format("proto-zst").load(dir)
    assert(postFrame.filter(
      col("key") >= lit(lo) && col("key") < lit(hi)).count() === 0L)
    assert(postFrame.count() === preTotal - inRange)
  }

  test("q148 erasure of a whole file's range commits the file away with no survivors") {
    val dir = freshDir("graft_man_erase0")
    Sink.writeNested(CellModel.nestRows(spark, sf0001)
      .repartitionByRange(8, col("key")), dir)
    val before = GenManifest.read(dir, conf).getOrElse(fail("no manifest"))
    assert(before.entries.length === 8)
    val e = before.entries.find(_.hasRange).get
    val preTotal = spark.read.format("proto-zst").load(dir).count()
    // [e.min, e.max ++ 0x00) covers every key of e and, the files
    // being range-disjoint, touches no other file
    val (touched, untouched) =
      SinkMaintain.eraseRange(spark, dir, e.min, e.max :+ 0.toByte)
    assert((touched, untouched) === ((1, 7)))
    val after = GenManifest.read(dir, conf).getOrElse(fail("no manifest v2"))
    assert(after.version === before.version + 1)
    assert(!after.entries.exists(_.name == e.name))
    assert(after.entries.length === 7)
    assert(!new java.io.File(dir, e.name).exists(), s"${e.name} not GC'd")
    assert(!new java.io.File(dir).list().exists(_.startsWith(".erase-")),
      "staging directory left behind")
    assert(spark.read.format("proto-zst").load(dir).count() ===
      preTotal - e.count)
  }

  test("q174 streaming export: files split by group content, manifest complete") {
    val read = graft.operators.Streaming.streamExport(spark, sf0001)
    val total = read.count()
    assert(total > 0)
    // the read-back frame IS the oracle's content; here pin the disk
    // layout: every manifest entry stays inside ONE (hour, shard)
    // group prefix, and entry counts sum to the row count (nothing
    // dropped or double-committed across micro-batch epochs)
    val outDir = read.queryExecution.analyzed.collectLeaves().head match {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
        r.table.name().stripPrefix("proto-zst(").stripSuffix(")")
    }
    val s = GenManifest.read(outDir, conf).getOrElse(fail("no manifest"))
    assert(s.entries.map(_.count).sum === total)
    val prefixes = s.entries.map { e =>
      val (lo, hi) = (new String(e.min, "UTF-8"), new String(e.max, "UTF-8"))
      val n = graft.operators.Streaming.SExpPrefixBytes
      assert(lo.take(n) === hi.take(n), s"${e.name} spans groups: $lo..$hi")
      lo.take(n)
    }
    // at most one file per group per micro-batch epoch: with the
    // single-file AvailableNow source that means groups are unique
    assert(prefixes.distinct.length === prefixes.length,
      "a group split across files within one epoch")
  }

  test("q174 multi-epoch run: content batch-split-invariant, one commit per epoch") {
    // split the (normalized) events table into two files and stream
    // them one per micro-batch: two epochs, two manifest commits, and
    // byte-identical content vs the single-batch run
    val srcDir = freshDir("graft_sexp_src")
    graft.sources.Tables.events(spark, sf0001).repartition(2)
      .write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    // a NON-default shard count (5 vs the toy 8): the split-invariance
    // and per-epoch-commit contract must hold at whatever fan-out the
    // cluster passes, not just the compiled default (the default shape
    // is covered by the q174 layout test above)
    def run(maxFiles: Option[Int]): (Set[String], Int, Long) = {
      val out = freshDir("graft_sexp_out")
      val rd = spark.readStream.schema(schema)
      val src = maxFiles.fold(rd)(n =>
        rd.option("maxFilesPerTrigger", n.toString)).parquet(srcDir)
      val frame = graft.operators.Streaming.streamExportOf(spark, src,
        out, freshDir("graft_sexp_ck"), shards = 5)
      val rows = frame.collect().map(_.mkString("|")).toSet
      val s = GenManifest.read(out, conf).getOrElse(fail("no manifest"))
      val fs = new org.apache.hadoop.fs.Path(out).getFileSystem(conf)
      val versions = fs.listStatus(
        new org.apache.hadoop.fs.Path(out, GenManifest.DirName))
        .count(_.getPath.getName.endsWith(".delta"))
      (rows, versions, s.entries.map(_.count).sum)
    }
    val (one, v1, n1) = run(None)
    val (two, v2, n2) = run(Some(1))
    assert(one === two, "content differs under batch split")
    assert(n1 === n2 && n1 === one.size.toLong)
    assert(v1 === 1, s"single-batch run committed $v1 versions")
    assert(v2 === 2, s"two-epoch run committed $v2 versions")
  }

  test("16 racing committers all land exactly once; replayed epochs lose exactly once") {
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val dir = freshDir("graft_man_storm")
    val pool = Executors.newFixedThreadPool(16)
    try {
      // 16 concurrent appends of disjoint entries: every commit must
      // retry-through contention onto the latest snapshot and land its
      // entries exactly once — the create-if-absent publish is the only
      // arbiter, no lock service
      val gate = new CountDownLatch(1)
      val appends = (0 until 12).map { i =>
        pool.submit(new Runnable {
          override def run(): Unit = {
            gate.await()
            GenManifest.append(dir, conf, Seq(GenManifest.Entry(
              f"part-race-$i%02d.proto.zst", 10L + i, 1L, sorted = true,
              "00", "01")))
            ()
          }
        })
      }
      // plus 4 racing REPLAYS of one (query, epoch): exactly one may
      // publish, the rest must see the refusal (None)
      val epochWins = new java.util.concurrent.atomic.AtomicInteger
      val epochs = (0 until 4).map { i =>
        pool.submit(new Runnable {
          override def run(): Unit = {
            gate.await()
            if (GenManifest.appendEpoch(dir, conf, "storm/5",
                Seq(GenManifest.Entry(f"part-ep-$i%02d.proto.zst", 7L, 1L,
                  sorted = true, "02", "03"))).isDefined)
              epochWins.incrementAndGet()
            ()
          }
        })
      }
      gate.countDown()
      (appends ++ epochs).foreach(_.get(60, TimeUnit.SECONDS))
      val s = GenManifest.read(dir, conf).getOrElse(fail("no manifest"))
      // every disjoint append landed exactly once, in 13 committed
      // versions (12 appends + the one winning epoch), and the losers'
      // entries never entered the snapshot
      assert(epochWins.get() === 1)
      assert(s.version === 13L)
      val names = s.entries.map(_.name)
      assert(names.distinct.length === names.length)
      assert(names.count(_.startsWith("part-race-")) === 12)
      assert(names.count(_.startsWith("part-ep-")) === 1)
      assert(s.epochs === Set("storm/5"))
    } finally { pool.shutdownNow(); () }
  }

  /** The q171 release-layout contract at an arbitrary (epochs, shards)
    * shape: ONE manifest version for the whole release, exactly one
    * key-sorted file per (epoch, shard) group, counts conserved.
    */
  private def checkExportLayout(epochs: Int, shards: Int): Unit = {
    val dir = freshDir("graft_man_exp")
    val keyed = Releases.exportKeyed(spark, sf0001, epochs, shards)
    Releases.writeExport(keyed, dir, epochs, shards)
    val s = GenManifest.read(dir, conf).getOrElse(fail("no manifest"))
    // the whole release committed as ONE manifest version — a reader
    // sees all epochs×shards files or none (commit atomicity at shard
    // count): exactly one version file exists after the write
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    val versions = fs.listStatus(
      new org.apache.hadoop.fs.Path(dir, GenManifest.DirName))
      .map(_.getPath.getName).filter(_.endsWith(".delta"))
    assert(versions.length === 1, versions.toSeq)
    assert(s.entries.length === epochs * shards)
    // exactly one file per (epoch, shard): every entry's key range
    // stays inside one group prefix, and the groups are all distinct
    val prefixes = s.entries.map { e =>
      assert(e.hasRange && e.count > 0, e.name)
      val (lo, hi) = (new String(e.min, "UTF-8"), new String(e.max, "UTF-8"))
      assert(lo.take(Releases.ExportPrefixBytes) === hi.take(Releases.ExportPrefixBytes),
        s"${e.name} spans groups: $lo..$hi")
      lo.take(Releases.ExportPrefixBytes)
    }
    assert(prefixes.distinct.length === prefixes.length)
    assert(s.entries.map(_.count).sum === keyed.count())
    // every file is key-sorted (the attested ordering a loader streams
    // positions from): sidecar says so, and the in-file row order IS
    // ascending positions 1..n
    s.entries.foreach { e =>
      assert(e.sorted, s"${e.name} not order-attested")
      val rows = spark.read.format("proto-zst").load(s"$dir/${e.name}")
        .select(decode(col("key"), "UTF-8").as("k")).collect()
        .map(_.getString(0))
      assert(rows.length === e.count)
      val pos = rows.map(_.split(":p")(1).toLong)
      assert(pos.toSeq === (1L to pos.length).toSeq,
        s"${e.name} positions not the in-file order")
    }
  }

  test("q171 export: one sorted file per (epoch, shard), one version bump") {
    checkExportLayout(Releases.ExportEpochs, Releases.ExportShards)
  }

  test("q171 export holds at a non-default (epochs, shards) shape") {
    // the "shard count scales with the cluster" claim, exercised: the
    // same layout contract at 3 epochs × 5 shards (neither the default)
    checkExportLayout(3, 5)
  }

  test("manifest entries carry truthful cell write-time ranges") {
    val dir = freshDir("graft_man_t")
    Sink.writeNested(CellModel.nestRows(spark, sf0001)
      .repartitionByRange(4, col("key")), dir)
    val s = GenManifest.read(dir, conf).getOrElse(fail("no manifest"))
    // nestRows keeps cell-less rows (live partitions whose cells are
    // all non-live), so a file CAN be time-less; every file here holds
    // at least one cell at sf0.001, so all entries must attest
    assert(s.entries.nonEmpty && s.entries.forall(_.times.isDefined))
    s.entries.foreach { e =>
      val (mn, mx) = e.times.get
      assert(mn <= mx, e.name)
    }
    // the union of per-file ranges is exactly the corpus range
    val corpus = CellModel.liveCells(spark, sf0001)
      .agg(min(col("write_time")), max(col("write_time"))).head
    assert(s.entries.map(_.times.get._1).min === corpus.getLong(0))
    assert(s.entries.map(_.times.get._2).max === corpus.getLong(1))
    // and each file's recorded range covers its actual decoded cells
    s.entries.foreach { e =>
      val r = spark.read.format("proto-zst").load(s"$dir/${e.name}")
        .select(explode(col("columns")).as("c"))
        .agg(min(col("c.write_time")), max(col("c.write_time"))).head
      assert(r.getLong(0) >= e.times.get._1 &&
        r.getLong(1) <= e.times.get._2, e.name)
    }
  }

  test("a legacy six-field manifest parses as time-less; skips degrade") {
    val dir = freshDir("graft_man_legacy")
    // write through the sink to get a real file, then rewrite its
    // manifest line in the PRE-TIMES format (the vintage an older
    // engine committed)
    Sink.writeNested(CellModel.nestRows(spark, sf0001).limit(5)
      .repartition(1), dir)
    val s = GenManifest.read(dir, conf).getOrElse(fail("no manifest"))
    val e = s.entries.head
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    val legacy = new org.apache.hadoop.fs.Path(dir,
      f"_graft_manifest/v${s.version + 1}%020d.manifest")
    val os = fs.create(legacy, true)
    os.write((s"graft-manifest-v1\n${s.version + 1}\n" +
      s"${e.name}\t${e.bytes}\t${e.count}\t${if (e.sorted) 1 else 0}" +
      s"\t${e.minHex}\t${e.maxHex}\n").getBytes("UTF-8"))
    os.close()
    val s2 = GenManifest.read(dir, conf).getOrElse(fail("no legacy parse"))
    assert(s2.version === s.version + 1)
    assert(s2.entries.head.times.isEmpty)
    // a time-bounded scan over a time-less manifest reads EVERYTHING —
    // absence degrades to reading, never to skipping
    val n = spark.read.format("proto-zst")
      .option("minWriteTimeUs", Long.MaxValue.toString).load(dir).count()
    assert(n === e.count)
  }

  test("write-time window option prunes files from manifest time ranges") {
    val dir = freshDir("graft_man_twin")
    val cells = CellModel.liveCells(spark, sf0001)
    val mid = cells.agg(expr("percentile_approx(write_time, 0.5)"))
      .head.getLong(0)
    def nest(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(col("key"))
      .agg(sort_array(collect_list(struct(col("name"), col("value"),
        col("write_time")))).as("columns")).coalesce(1)
    // two files with disjoint time ranges
    Sink.writeNested(nest(cells.filter(col("write_time") < mid)), dir)
    Sink.writeNested(nest(cells.filter(col("write_time") >= mid)), dir)
    val newRows = cells.filter(col("write_time") >= mid)
      .select(col("key")).distinct().count()
    MetaIO.reset()
    val scan = spark.read.format("proto-zst")
      .option("minWriteTimeUs", mid.toString).load(dir)
    assert(scan.rdd.getNumPartitions === 1, "old-window file not pruned")
    assert(scan.count() === newRows)
    // the window also vetoes the collapsed sidecar-stats aggregation:
    // a pushed COUNT would cover the pruned file's rows
    val agg = spark.read.format("proto-zst")
      .option("minWriteTimeUs", mid.toString).load(dir).agg(count("*"))
    assert(!agg.queryExecution.executedPlan.toString
      .contains("PushedAggregation"))
    assert(agg.head.getLong(0) === newRows)
    assert(MetaIO.dataListings.get() === 0L)
    assert(MetaIO.sidecarReads.get() === 0L)
    // an inverted window is a caller bug, refused at build time
    intercept[Exception] {
      spark.read.format("proto-zst").option("minWriteTimeUs", "10")
        .option("maxWriteTimeUs", "5").load(dir).count()
    }
  }

  /** Tiny single-file commit for the version-pin tests: keys with one
    * cell each, all metadata real (range, count, times).
    */
  private def pinCommit(dir: String, keys: String*): Unit = {
    import spark.implicits._
    Sink.writeNested(keys.toSeq.toDF("k")
      .select(encode(col("k"), "UTF-8").as("key"),
        array(struct(encode(col("k"), "UTF-8").as("name"),
          encode(col("k"), "UTF-8").as("value"),
          lit(7L).as("write_time"))).as("columns"))
      .repartition(1), dir)
  }

  private def pinnedKeys(dir: String, version: Option[Long]): Set[String] = {
    val r = version.foldLeft(spark.read.format("proto-zst"))(
      (r, v) => r.option("manifestVersion", v.toString))
    r.load(dir).select(decode(col("key"), "UTF-8")).collect()
      .map(_.getString(0)).toSet
  }

  test("q196 pin: a pinned version stays frozen across appends; head-pin == HEAD") {
    val dir = freshDir("graft_man_pin")
    pinCommit(dir, "a", "b", "c")
    val v1 = GenManifest.read(dir, conf).get.version
    pinCommit(dir, "d", "e")
    val v2 = GenManifest.read(dir, conf).get.version
    assert(pinnedKeys(dir, Some(v1)) === Set("a", "b", "c"))
    assert(pinnedKeys(dir, Some(v2)) === Set("a", "b", "c", "d", "e"))
    assert(pinnedKeys(dir, None) === Set("a", "b", "c", "d", "e"))
    // a pinned COUNT collapses to THAT snapshot's manifest stats
    val pinned = spark.read.format("proto-zst")
      .option("manifestVersion", v1.toString).load(dir).agg(count("*"))
    assert(pinned.queryExecution.executedPlan.toString
      .contains("PushedAggregation"))
    assert(pinned.head().getLong(0) === 3L)
  }

  test("q196 pin misses fail loudly: gc'd version, foreign dir, stream tail") {
    val dir = freshDir("graft_man_pin_err")
    // five commits; Retain = 3 keeps the last three snapshot files
    (1 to 5).foreach(i => pinCommit(dir, s"k$i"))
    val head = GenManifest.read(dir, conf).get.version
    assert(pinnedKeys(dir, Some(head - 2)).size === head.toInt - 2)
    val gone = intercept[Exception] {
      pinnedKeys(dir, Some(head - 4))
    }
    assert(gone.getMessage.contains("not retained"), gone.getMessage)
    assert(gone.getMessage.contains((head - 2).toString), gone.getMessage)
    // a directory without a manifest can never answer a pinned read —
    // degrading to the listing would silently serve HEAD
    val foreign = freshDir("graft_man_pin_foreign")
    val src = ProtoZstFiles.list(dir, conf).head
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(new java.net.URI(
        if (src.startsWith("file:")) src else "file://" + src)),
      java.nio.file.Paths.get(foreign, "data.proto.zst"))
    val nf = intercept[Exception] { pinnedKeys(foreign, Some(1L)) }
    assert(nf.getMessage.contains("not a manifest-governed"), nf.getMessage)
    // a pinned snapshot is frozen — tailing it as a stream is refused
    val st = intercept[Exception] {
      val q = spark.readStream.format("proto-zst")
        .option("manifestVersion", head.toString).load(dir)
        .writeStream.format("memory").queryName("pin_stream")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    assert(st.getMessage.contains("cannot tail"), st.getMessage)
  }

  test("q196 pin across OPTIMIZE fails at scan — never resurrects replaced files") {
    val dir = freshDir("graft_man_pin_opt")
    Sink.writeNested(CellModel.nestRows(spark, sf0001)
      .repartitionByRange(4, col("key")), dir)
    val v = GenManifest.read(dir, conf).get.version
    SinkMaintain.optimizeSink(spark, dir)
    // planning still sees the old snapshot (retained), but the replaced
    // originals are deleted at commit by design — erasure must be
    // irreversible, so pins across maintenance fail instead of lying
    val e = intercept[Exception] {
      spark.read.format("proto-zst").option("manifestVersion", v.toString)
        .load(dir).select(col("key")).collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: chain(t.getCause)
    assert(chain(e).exists(c =>
      c.isInstanceOf[java.io.FileNotFoundException] ||
        String.valueOf(c.getMessage).contains("does not exist")),
      chain(e).map(_.toString).mkString("\n"))
  }

  test("q199 export balance: per-shard loads replay; the full release shape is covered") {
    val rows = Releases.exportShards(spark, sf0001)
      .select(col("epoch"), col("shard")).collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    val counts = rows.groupBy(identity).map { case (k, v) =>
      k -> v.length.toLong }
    val epochTotals = rows.groupBy(_._1).map { case (e, v) =>
      e -> v.length.toLong }
    val expected = counts.map { case ((e, s), n) =>
      val bm = 1000L * n * Releases.ExportShards / epochTotals(e)
      (e, s, n, bm, if (bm >= 2000) 1 else 0)
    }.toSet
    val got = Releases.exportBalance(spark, sf0001).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getInt(4))).toSet
    assert(got === expected)
    // hash sharding left no (epoch, shard) slot empty at this SF —
    // every loader worker gets a file to read
    assert(got.size === Releases.ExportEpochs * Releases.ExportShards)
  }

  test("q204 delta ∪ v1-pin == head, disjoint — the incremental-consumer identity") {
    def cells(df: org.apache.spark.sql.DataFrame): Set[(Seq[Byte], Long)] =
      df.select(explode(col("columns")).as("c"))
        .select(col("c.name"), col("c.write_time")).collect()
        .map(r => (r.getAs[Array[Byte]](0).toSeq, r.getLong(1))).toSet
    val (out, v1, _) = Releases.versionPinFixture(spark, sf0001)
    val pin1 = cells(spark.read.format("proto-zst")
      .option("manifestVersion", v1).load(out))
    val head = cells(spark.read.format("proto-zst").load(out))
    val delta = Releases.versionDelta(spark, sf0001).collect()
      .map(r => (r.getString(1).getBytes("UTF-8").toSeq, r.getLong(3)))
      .toSet
    assert((pin1 & delta).isEmpty, "delta overlaps the pinned release")
    assert((pin1 | delta) === head, "delta misses appended cells")
    assert(delta.nonEmpty && pin1.nonEmpty)
  }

  test("q206 TTL expiry drops exactly the provably-old files, keeps time-less ones") {
    val dir = freshDir("graft_ttl_unit")
    // two window-pure commits: cells below/above a fixed instant
    import spark.implicits._
    def commitAt(t: Long, keys: String*): Unit =
      Sink.writeNested(keys.toSeq.toDF("k")
        .select(encode(col("k"), "UTF-8").as("key"),
          array(struct(encode(col("k"), "UTF-8").as("name"),
            encode(col("k"), "UTF-8").as("value"),
            lit(t).as("write_time"))).as("columns"))
        .repartition(1), dir)
    commitAt(10L, "old1", "old2")
    commitAt(20L, "new1", "new2", "new3")
    // plus a TIME-LESS entry (legacy manifest shape): a real file
    // committed without write-time stats — unprovable age, must survive
    val conf0 = conf
    val src = ProtoZstFiles.listWithSizes(dir, conf0).head
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf0)
    val legacy = new org.apache.hadoop.fs.Path(dir, "legacy.proto.zst")
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(src._1), fs, legacy, false, conf0)
    GenManifest.commit(dir, conf0)(es => es :+ GenManifest.Entry(
      "legacy.proto.zst", src._2, 2L, sorted = false, "", "", None))
    val before = spark.read.format("proto-zst").load(dir).count()
    val n = SinkMaintain.expireByTime(dir, 15L)
    assert(n === 1, "exactly the pre-cutoff commit's file expires")
    val snap = GenManifest.read(dir, conf0).get
    assert(snap.entries.exists(_.name == "legacy.proto.zst"),
      "time-less entry survived (absence degrades to retaining)")
    assert(snap.entries.forall(e => e.times.forall(_._2 >= 15L)))
    // the expired file is physically gone; survivors intact
    assert(ProtoZstFiles.list(dir, conf0).length === snap.entries.length)
    assert(spark.read.format("proto-zst").load(dir).count() === before - 2)
    // a second expiry at the same cutoff is a no-op
    assert(SinkMaintain.expireByTime(dir, 15L) === 0)
    // a manifest-less directory is refused, not listing-guessed
    val foreign = freshDir("graft_ttl_foreign")
    val e = intercept[IllegalArgumentException] {
      SinkMaintain.expireByTime(foreign, 15L)
    }
    assert(e.getMessage.contains("no manifest"), e.getMessage)
  }

  test("q207 window compaction: one commit, preserved time ranges, idempotent") {
    val dir = freshDir("graft_wmajor_unit")
    import spark.implicits._
    def commitAt(t: Long, keys: String*): Unit =
      Sink.writeNested(keys.toSeq.toDF("k")
        .select(encode(col("k"), "UTF-8").as("key"),
          array(struct(encode(col("k"), "UTF-8").as("name"),
            encode(col("k"), "UTF-8").as("value"),
            lit(t).as("write_time"))).as("columns"))
        .repartition(1), dir)
    // two files in window 0 (t∈[0,10)), two in window 1, one in the
    // OPEN window 2, plus a time-less legacy entry — only the closed
    // multi-file windows may move
    commitAt(3L, "a1", "a2"); commitAt(5L, "a3")
    commitAt(12L, "b1"); commitAt(14L, "b2", "b3")
    commitAt(25L, "c1")
    val conf0 = conf
    val src = ProtoZstFiles.listWithSizes(dir, conf0).head
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf0)
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(src._1), fs,
      new org.apache.hadoop.fs.Path(dir, "legacy.proto.zst"), false, conf0)
    // the copy's real row count: strict reads check it against the rows
    val srcRows = GenManifest.read(dir, conf0).get.entries
      .find(e => src._1.endsWith("/" + e.name)).get.count
    GenManifest.commit(dir, conf0)(es => es :+ GenManifest.Entry(
      "legacy.proto.zst", src._2, srcRows, sorted = false, "", "", None))
    val before = spark.read.format("proto-zst").load(dir)
      .select(col("key"), explode(col("columns")).as("c"))
      .select(decode(col("key"), "UTF-8").as("k"),
        col("c.write_time").as("t"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted
    val v0 = GenManifest.read(dir, conf0).get.version
    assert(SinkMaintain.compactWindows(spark, dir, 10L, 20L) === ((2, 4)))
    val snap = GenManifest.read(dir, conf0).get
    // ONE atomic commit covered both windows
    assert(snap.version === v0 + 1)
    // 2 packed + open + legacy; packed entries carry the OBSERVED
    // time range of their window's cells, so temporal skip and expiry
    // keep firing on the compacted layout
    assert(snap.entries.length === 4)
    val packed = snap.entries.filter(_.name.startsWith("wmajor-"))
      .sortBy(_.times.get._1)
    assert(packed.map(_.times) === Seq(Some((3L, 5L)), Some((12L, 14L))))
    assert(packed.forall(e => e.sorted && e.count > 0 && e.hasRange))
    assert(snap.entries.exists(_.name == "legacy.proto.zst"),
      "time-less entry survived (absence degrades to keeping)")
    // the disk holds exactly the committed set; reads are bit-equal
    assert(ProtoZstFiles.list(dir, conf0).length === snap.entries.length)
    val after = spark.read.format("proto-zst").load(dir)
      .select(col("key"), explode(col("columns")).as("c"))
      .select(decode(col("key"), "UTF-8").as("k"),
        col("c.write_time").as("t"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted
    assert(after.toSeq === before.toSeq, "row multiset preserved")
    // idempotent: every closed window is already one file
    assert(SinkMaintain.compactWindows(spark, dir, 10L, 20L) === ((0, 0)))
    assert(GenManifest.read(dir, conf0).get.version === v0 + 1)
    // the TWCS payoff composes: expiry drops the packed window-0 file
    assert(SinkMaintain.expireByTime(dir, 10L) === 1)
    assert(!GenManifest.read(dir, conf0).get.entries
      .exists(_.times.exists(_._2 < 10L)))
    // a manifest-less directory is refused, not listing-guessed
    val e = intercept[IllegalArgumentException] {
      SinkMaintain.compactWindows(spark, freshDir("graft_wmajor_foreign"), 10L, 20L)
    }
    assert(e.getMessage.contains("no manifest"), e.getMessage)
  }

  test("window compaction under a live stream trips the shrank-directory guard") {
    import graft.sources.{ProtoZstMicroBatchStream, ProtoZstTable}
    val dir = freshDir("graft_wmajor_stream")
    import spark.implicits._
    def commitAt(t: Long, keys: String*): Unit =
      Sink.writeNested(keys.toSeq.toDF("k")
        .select(encode(col("k"), "UTF-8").as("key"),
          array(struct(encode(col("k"), "UTF-8").as("name"),
            encode(col("k"), "UTF-8").as("value"),
            lit(t).as("write_time"))).as("columns"))
        .repartition(1), dir)
    commitAt(3L, "a1"); commitAt(5L, "a2"); commitAt(25L, "c1")
    val stream = new ProtoZstMicroBatchStream(dir, ignoreCorrupt = false,
      ProtoZstTable.Schema, Array.empty)
    val end = stream.latestOffset() // all three offsets now issued
    assert(SinkMaintain.compactWindows(spark, dir, 10L, 20L) === ((1, 2)))
    // 2 files became 1: delivered offsets outrun the directory — the
    // planner must refuse loudly, same contract as OPTIMIZE/expiry
    val e = intercept[IllegalStateException] {
      stream.planInputPartitions(stream.initialOffset(), end)
    }
    assert(e.getMessage.contains("shrank"), e.getMessage)
  }

  test("TTL expiry under a live stream trips the shrank-directory guard") {
    import graft.sources.{ProtoZstMicroBatchStream, ProtoZstTable}
    val dir = freshDir("graft_ttl_stream")
    import spark.implicits._
    def commitAt(t: Long, keys: String*): Unit =
      Sink.writeNested(keys.toSeq.toDF("k")
        .select(encode(col("k"), "UTF-8").as("key"),
          array(struct(encode(col("k"), "UTF-8").as("name"),
            encode(col("k"), "UTF-8").as("value"),
            lit(t).as("write_time"))).as("columns"))
        .repartition(1), dir)
    commitAt(10L, "old1")
    commitAt(20L, "new1")
    val stream = new ProtoZstMicroBatchStream(dir, ignoreCorrupt = false,
      ProtoZstTable.Schema, Array.empty)
    val end = stream.latestOffset() // both files' offsets now issued
    assert(SinkMaintain.expireByTime(dir, 15L) === 1)
    // delivered offsets outrun the shrunken directory: the planner must
    // refuse loudly (silently renumbering would replay wrong files) —
    // same contract as OPTIMIZE/erasure on a tailed source
    val e = intercept[IllegalStateException] {
      stream.planInputPartitions(stream.initialOffset(), end)
    }
    assert(e.getMessage.contains("shrank"), e.getMessage)
    // the byte-budget admission walk hits the same wall one call
    // earlier (an AvailableNow fixed end outrunning the shrunken
    // sizes) and must raise the same loud contract, not an index crash
    val budgeted = new ProtoZstMicroBatchStream(dir, ignoreCorrupt = false,
      ProtoZstTable.Schema, Array.empty, maxBytesPerTrigger = Some(1L))
    budgeted.prepareForTriggerAvailableNow()
    assert(SinkMaintain.expireByTime(dir, 25L) === 1) // drops the second file too
    val e2 = intercept[IllegalStateException] {
      budgeted.latestOffset(graft.sources.ProtoZstOffset(0),
        org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable())
    }
    assert(e2.getMessage.contains("shrank"), e2.getMessage)
  }

  test("q196 replays: v1 holds the pre-midpoint nest, v2 == head") {
    val rows = graft.operators.Releases.versionPin(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val cells = CellModel.liveCells(spark, sf0001)
      .select(col("key"), col("write_time")).collect()
      .map(r => (r.getAs[Array[Byte]](0).toSeq, r.getLong(1)))
    val ts = cells.map(_._2)
    val t = ts.min + (ts.max - ts.min) / 2
    val first = cells.filter(_._2 < t)
    val second = cells.filter(_._2 >= t)
    assert(rows("v1") === (first.map(_._1).distinct.length.toLong,
      first.length.toLong))
    assert(rows("v2") === (
      first.map(_._1).distinct.length.toLong +
        second.map(_._1).distinct.length.toLong,
      cells.length.toLong))
    assert(rows("head") === rows("v2"),
      "the head read and the head-version pin must agree bit-for-bit")
  }

  /** The q212 packed-release layout contract at an arbitrary stream
    * count: ONE manifest version for the whole release, one key-sorted
    * file per non-empty pack stream, BPE tokens conserved through the
    * sink, and every sequence except each stream's last filled to
    * exactly PackRelLen.
    */
  private def checkPackedRelease(streams: Int): String = {
    val dir = freshDir("graft_man_packrel")
    val docs = Releases.packRelDocs(spark, sf0001, streams)
    Releases.writePackRel(Releases.packRelKeyed(Releases.packRelSeqs(docs)),
      dir, streams)
    val s = GenManifest.read(dir, conf).getOrElse(fail("no manifest"))
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    val versions = fs.listStatus(
      new org.apache.hadoop.fs.Path(dir, GenManifest.DirName))
      .map(_.getPath.getName).filter(_.endsWith(".delta"))
    assert(versions.length === 1, versions.toSeq)
    val nonEmpty = docs.select(col("stream")).distinct().collect()
      .map(_.getInt(0)).toSet
    assert(s.entries.length === nonEmpty.size)
    val prefixes = s.entries.map { e =>
      assert(e.hasRange && e.count > 0 && e.sorted, e.name)
      val (lo, hi) = (new String(e.min, "UTF-8"), new String(e.max, "UTF-8"))
      assert(lo.take(3) === hi.take(3), s"${e.name} spans streams: $lo..$hi")
      lo.take(3)
    }
    assert(prefixes.distinct.length === prefixes.length)
    val parsed = Releases.packRelParse(spark, dir).collect()
    // BPE token conservation through the sink: the packed sequences
    // hold exactly the corpus's tokens, no loss, no duplication
    val totalNb = docs.agg(sum(col("nb"))).head().getLong(0)
    assert(parsed.map(_.getLong(3)).sum === totalNb)
    // members string is the sequence's doc membership: count agrees
    parsed.foreach { r =>
      assert(r.getString(4).split(",").length === r.getLong(2), r)
    }
    // per stream: seq ids are contiguous from 0 and every sequence
    // except the last is filled to exactly PackRelLen tokens
    parsed.groupBy(_.getInt(0)).foreach { case (st, rows) =>
      val bySeq = rows.sortBy(_.getLong(1))
      assert(bySeq.map(_.getLong(1)).toSeq ===
        (0L until bySeq.length).toSeq, s"stream $st seq ids not contiguous")
      bySeq.init.foreach(r => assert(r.getLong(3) === Releases.PackRelLen,
        s"stream $st seq ${r.getLong(1)} under-filled mid-stream"))
      assert(bySeq.last.getLong(3) <= Releases.PackRelLen)
    }
    dir
  }

  test("q212 packed release: one sorted file per stream, one commit, tokens conserved") {
    checkPackedRelease(Releases.PackRelStreams)
  }

  test("q212 packed release holds at a non-default stream count") {
    checkPackedRelease(4)
  }

  test("q213 erasure rewrites only the affected stream files, in one commit") {
    val streams = 4
    val dir = freshDir("graft_man_packerase")
    val docs = Releases.packRelDocs(spark, sf0001, streams)
    Releases.writePackRel(Releases.packRelKeyed(Releases.packRelSeqs(docs)),
      dir, streams)
    val s1 = GenManifest.read(dir, conf).getOrElse(fail("no manifest"))
    // victim: one concrete document; its stream is the only one whose
    // file may change
    val victim = docs.orderBy(col("doc_id")).select(col("doc_id"),
      col("stream")).head()
    val (vid, vStream) = (victim.getLong(0), victim.getInt(1))
    val vPrefix = f"t$vStream%02d"
    val before = s1.entries.map(e =>
      new String(e.min, "UTF-8").take(3) -> e.name).toMap
    val (t1, u1) = Releases.packErase(spark, dir, Seq(vid), streams)
    assert(t1 === 1 && u1 === s1.entries.length - 1)
    val s2 = GenManifest.read(dir, conf).getOrElse(fail("no manifest v2"))
    // ONE commit for the whole erasure
    assert(s2.version === s1.version + 1)
    val after = s2.entries.map(e =>
      new String(e.min, "UTF-8").take(3) -> e.name).toMap
    // untouched streams keep their exact files; only the victim's
    // stream was rewritten
    (before.keySet - vPrefix).foreach(p => assert(after(p) === before(p), p))
    assert(after(vPrefix) !== before(vPrefix))
    // the victim is gone from every membership, and the affected
    // stream's packing equals a from-scratch repack of its survivors
    val parsed = Releases.packRelParse(spark, dir)
    assert(parsed.filter(col("members").contains(f"d$vid%010d")).count()
      === 0)
    val expected = Releases.packRelSeqs(
        docs.filter(col("doc_id") =!= vid))
      .filter(col("stream") === vStream)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4))).toSet
    val got = parsed.filter(col("stream") === vStream)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4))).toSet
    assert(got === expected)
    // idempotence: erasing the same id again rewrites the affected
    // stream to identical content (and still commits exactly once)
    val (t2, _) = Releases.packErase(spark, dir, Seq(vid), streams)
    assert(t2 === 1)
    val s3 = GenManifest.read(dir, conf).getOrElse(fail("no manifest v3"))
    assert(s3.version === s2.version + 1)
    val again = Releases.packRelParse(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4))).toSet
    val first = parsed
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4))).toSet
    assert(again === first)
  }

  test("q215 stream index ingest lands the batch assignment, one sorted file per cell, epoch-committed") {
    import graft.operators.SimSearch
    import graft.functions.Portable
    val out = freshDir("graft_man_vecing")
    val ckpt = freshDir("graft_man_vecing_ckpt")
    val got = SimSearch.streamIndexIngestTo(spark, sf0001, out, ckpt)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    // expected: the batch assignment against the SAME frozen quantizer
    val e = graft.sources.Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), Portable.qvec(col("embedding")).as("qv"))
      .withColumn("n2", Portable.norm2(col("qv")))
    val cent = SimSearch.centroidFixture(spark, sf0001, SimSearch.NCells)
    val expected = e.crossJoin(broadcast(cent))
      .withColumn("d2", col("n2") + col("cn2") -
        lit(2L) * Portable.dotq(col("qv"), col("cqv")))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("cell"))).as("w"))
      .select(col("w.cell").cast("int"), col("vec_id"), col("w.d2"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === expected)
    // landed layout: one key-sorted file per non-empty cell, whole
    // batch committed as ONE manifest epoch version
    val s = GenManifest.read(out, conf).getOrElse(fail("no manifest"))
    val cells = expected.map(_._1)
    assert(s.entries.length === cells.size)
    val prefixes = s.entries.map { en =>
      assert(en.hasRange && en.sorted && en.count > 0, en.name)
      val (lo, hi) = (new String(en.min, "UTF-8"), new String(en.max, "UTF-8"))
      assert(lo.take(3) === hi.take(3), s"${en.name} spans cells")
      lo.take(3)
    }
    assert(prefixes.distinct.length === prefixes.length)
    assert(s.version === 1, "one AvailableNow batch = one epoch commit")
    assert(s.epochs.nonEmpty, "the epoch must be recorded for exactly-once")
  }

  test("q217 LSH index: one sorted file per band, one commit, probe equals index-free screen") {
    import graft.operators.Dedup
    val out = Dedup.lshIndexFixture(spark, sf0001)
    val s = GenManifest.read(out, conf).getOrElse(fail("no manifest"))
    val fs = new org.apache.hadoop.fs.Path(out).getFileSystem(conf)
    val versions = fs.listStatus(
      new org.apache.hadoop.fs.Path(out, GenManifest.DirName))
      .map(_.getPath.getName).filter(_.endsWith(".delta"))
    assert(versions.length === 1, versions.toSeq)
    val prefixes = s.entries.map { e =>
      assert(e.hasRange && e.sorted && e.count > 0, e.name)
      val (lo, hi) = (new String(e.min, "UTF-8"), new String(e.max, "UTF-8"))
      assert(lo.take(2) === hi.take(2), s"${e.name} spans bands: $lo..$hi")
      lo.take(2)
    }
    assert(prefixes.distinct.length === prefixes.length)
    // the probe through the landed index equals the same screen run
    // WITHOUT the index (bands joined in-plan) — persistence is a
    // cost choice, never a semantics choice
    val got = Dedup.lshIndexProbe(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val expected = Dedup.lshProbeNoIndex(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === expected)
    assert(got.nonEmpty, "the screen must fire at this SF or it proves nothing")
  }

  test("delta log roundtrips edge-case entries and epoch keys bit-for-bit") {
    val dir = freshDir("graft_man_rt")
    val es = Vector(
      GenManifest.Entry("e-empty-range.proto.zst", 0L, 0L,
        sorted = false, "", "", None),
      GenManifest.Entry("e-times-extremes.proto.zst", Long.MaxValue, 1L,
        sorted = true, "00", "ff", Some((Long.MinValue, Long.MaxValue))),
      GenManifest.Entry("e-zero-times.proto.zst", 5L, 2L,
        sorted = true, "0a", "0b", Some((0L, 0L)))) ++
      (0 until 100).map(i => GenManifest.Entry(
        f"e-bulk-$i%03d.proto.zst", i.toLong, i.toLong % 7, i % 2 == 0,
        if (i % 5 == 0) "" else f"$i%02x",
        if (i % 5 == 0) "" else f"${i + 1}%02x",
        if (i % 3 == 0) None else Some((i.toLong, i.toLong * 2))))
    GenManifest.append(dir, conf, es)
    assert(GenManifest.appendEpoch(dir, conf, "rt-query/42", Seq.empty)
      .isDefined)
    val s = GenManifest.read(dir, conf).getOrElse(fail("no manifest"))
    // order and EVERY field survive the delta render/parse
    assert(s.entries === es)
    assert(s.epochs === Set("rt-query/42"))
    // …and survive a checkpoint fold: push past the cadence, re-read
    (1 to GenManifest.CheckpointEvery.toInt).foreach(i =>
      GenManifest.append(dir, conf, Seq(GenManifest.Entry(
        f"pad-$i%02d.proto.zst", 1L, 1L, sorted = true, "00", "01"))))
    val s2 = GenManifest.read(dir, conf).getOrElse(fail("no manifest v2"))
    assert(s2.entries.take(es.length) === es)
    assert(s2.epochs === Set("rt-query/42"))
    // a name or key that would shear the TSV log is refused BEFORE
    // publish — the committed log stays unpoisoned
    intercept[IllegalArgumentException] {
      GenManifest.append(dir, conf, Seq(GenManifest.Entry(
        "bad\tname.proto.zst", 1L, 1L, sorted = true, "", "")))
    }
    intercept[IllegalArgumentException] {
      GenManifest.append(dir, conf, Seq(GenManifest.Entry(
        "!epoch", 1L, 1L, sorted = true, "", "")))
    }
    intercept[IllegalArgumentException] {
      GenManifest.appendEpoch(dir, conf, "bad\nkey", Seq.empty)
    }
    assert(GenManifest.read(dir, conf).get === s2)
  }

  test("steady-state commit bytes scale with the delta, not the live file set") {
    val dir = freshDir("graft_man_deltaio")
    // seed a FAT live set: 300 committed entries in one append — the
    // old full-snapshot-per-commit protocol would now rewrite ~15 KB
    // of metadata on every subsequent one-file commit
    def entry(n: String, i: Long) = GenManifest.Entry(n, 100L + i, 1L,
      sorted = true, "00", "ff", Some((1L, 2L)))
    GenManifest.append(dir, conf,
      (0 until 300).map(i => entry(f"part-seed-$i%04d.proto.zst", i.toLong)))
    val fullRenderFloor = 300L * 30L // ≥ 30 bytes per rendered entry line
    // 20 steady-state single-entry commits over the 300-file live set:
    // EACH published record must stay O(its own add list)
    val perCommit = (0 until 20).map { i =>
      val b0 = MetaIO.commitBytes.get()
      GenManifest.append(dir, conf,
        Seq(entry(f"part-inc-$i%02d.proto.zst", i.toLong)))
      MetaIO.commitBytes.get() - b0
    }
    assert(perCommit.forall(b => b > 0 && b < 256),
      s"per-commit record bytes not O(delta): $perCommit")
    // the WHOLE 20-commit run wrote less commit metadata than ONE
    // old-protocol snapshot would have
    assert(perCommit.sum < fullRenderFloor, s"sum=${perCommit.sum}")
    // replay correctness across the checkpoint fold: versions 1..21,
    // checkpoints at the CheckpointEvery cadence, head reconstructs
    val s = GenManifest.read(dir, conf).getOrElse(fail("no manifest"))
    assert(s.version === 21L)
    assert(s.entries.length === 320)
    assert(s.entries.map(_.name).distinct.length === 320)
    val md = new org.apache.hadoop.fs.Path(dir, GenManifest.DirName)
    val files = md.getFileSystem(conf).listStatus(md).map(_.getPath.getName)
    assert(files.exists(_.endsWith(".checkpoint.zst")),
      s"no checkpoint folded at cadence: ${files.toSeq}")
    // gc keeps the log BOUNDED: at most one checkpoint interval of
    // deltas plus the retained-read tail survives, never the full
    // commit history
    assert(files.count(_.endsWith(".delta")) <=
      GenManifest.CheckpointEvery + 3, files.toSeq.sorted.mkString(","))
    // time travel within the horizon replays checkpoint + tail
    assert(GenManifest.readAt(dir, conf, 20L).entries.length === 319)
    // a zstd checkpoint costs bytes only every CheckpointEvery commits
    // (amortized), and reads stay O(1) opens: listing + checkpoint +
    // a bounded delta tail
    assert(MetaIO.checkpointBytes.get() > 0L)
  }

  test("cross-PROCESS commit race: two external JVMs + this one, no version or record lost", SlowTest) {
    // the thread races above share one JVM; this is the stronger
    // claim — the create-if-absent publish (hard-link on POSIX) must
    // arbitrate between PROCESSES, where no JVM lock can mask a
    // broken primitive. Three writers (two spawned `RaceCommit`
    // JVMs + this thread) each commit n entries concurrently; every
    // commit must win exactly one version and every record survive.
    val dir = freshDir("graft_man_xjvm")
    GenManifest.append(dir, conf, Seq(GenManifest.Entry(
      "seed.proto.zst", 1L, 1L, sorted = false, "", "")))
    val v0 = GenManifest.read(dir, conf).get.version
    val n = 12
    val pa = spawnRaceCommit(dir, "a", n.toString)
    val pb = spawnRaceCommit(dir, "b", n.toString)
    (1 to n).foreach { i =>
      GenManifest.append(dir, conf, Seq(GenManifest.Entry(
        s"race-c-$i.proto.zst", 1L, 1L, sorted = false, "", "")))
    }
    val (outA, outB) = (drainRacer(pa, "a"), drainRacer(pb, "b"))
    assert(outA.contains("DONE a") && outB.contains("DONE b"),
      s"$outA\n$outB")
    val s = GenManifest.read(dir, conf).get
    // every one of the 3n commits won EXACTLY one version: a lost
    // version (two winners at one number) would leave the count short
    assert(s.version === v0 + 3L * n,
      s"expected ${v0 + 3 * n} versions, got ${s.version}")
    val names = s.entries.map(_.name).toSet
    Seq("a", "b", "c").foreach { tag =>
      (1 to n).foreach { i =>
        assert(names(s"race-$tag-$i.proto.zst"),
          s"record race-$tag-$i vanished — a commit was overwritten")
      }
    }
  }

  private def tinyEntry(n: String) =
    GenManifest.Entry(n, 10L, 1L, sorted = false, "", "")

  test("a stale committer can never publish into the gc-retired past (ghost commit)") {
    // the torn-listing ghost: a committer whose read() missed the log's
    // newest suffix computes a stale head h; once gc retires delta h+1
    // (deltas at/below a checkpoint are deleted past the retention
    // horizon) the name is FREE again, and an unguarded create-
    // exclusive link at h+1 SUCCEEDS — committing below the checkpoint
    // horizon where no replay looks: a silently lost commit. The head
    // guard must refuse the publish under the directory lock.
    val dir = freshDir("graft_man_ghost")
    (1 to 13).foreach { i =>
      GenManifest.append(dir, conf, Seq(tinyEntry(f"seed-$i%02d.proto.zst")))
    }
    val md = new org.apache.hadoop.fs.Path(dir, GenManifest.DirName)
    val fs = md.getFileSystem(conf)
    // 13 commits → checkpoint at 10, gc horizon ≥ 10: delta 5 retired
    val retired = new org.apache.hadoop.fs.Path(md, f"v${5L}%020d.delta")
    assert(!fs.exists(retired),
      "precondition: gc must have retired delta v5 under the checkpoint")
    // what the stale committer would stage: a v5 delta adding a ghost
    val tmp = new org.apache.hadoop.fs.Path(md, ".tmp-ghost")
    val os = fs.create(tmp, true)
    os.write(("graft-delta-v1\n5\n" +
      "+\tghost.proto.zst\t10\t1\t0\t\t\t\t\n").getBytes("UTF-8"))
    os.close()
    // the guarded publish re-lists under the lock: fresh head is 13,
    // not the stale committer's 4 — REFUSED, nothing created
    assert(!GenManifest.publishHeadGuarded(fs, md, 4L, tmp, retired))
    assert(!fs.exists(retired), "the refused ghost must not exist")
    val s = GenManifest.read(dir, conf).get
    assert(s.version === 13L)
    assert(!s.entries.exists(_.name == "ghost.proto.zst"),
      "a ghost record surfaced — the retired version was re-published")
    // and the guard passes a CURRENT committer: head 13 → version 14
    val tmp2 = new org.apache.hadoop.fs.Path(md, ".tmp-current")
    val os2 = fs.create(tmp2, true)
    os2.write(("graft-delta-v1\n14\n" +
      "+\tcurrent.proto.zst\t10\t1\t0\t\t\t\t\n").getBytes("UTF-8"))
    os2.close()
    val ok = GenManifest.publishHeadGuarded(fs, md, 13L, tmp2,
      new org.apache.hadoop.fs.Path(md, f"v${14L}%020d.delta"))
    assert(ok)
    assert(GenManifest.read(dir, conf).get.version === 14L)
    fs.delete(tmp, false)
    fs.delete(tmp2, false)
  }

  test("conditional replace: a stale maintenance swap aborts loudly — no doubling, no resurrection") {
    val dir = freshDir("graft_man_cme")
    GenManifest.append(dir, conf, Seq(tinyEntry("small-1-1.proto.zst"),
      tinyEntry("small-1-2.proto.zst"), tinyEntry("untouched.proto.zst")))
    // the winner: an erasure-shaped swap retires the smalls
    val won = GenManifest.replace(dir, conf,
      Set("small-1-1.proto.zst", "small-1-2.proto.zst"),
      Seq(tinyEntry("erased-1.proto.zst")))
    // the loser planned from the PRE-erasure snapshot: its staged pack
    // was built from bytes that still held the erased victim, so
    // committing it would resurrect the victim and double the rows the
    // winner's own add carries — it must refuse BEFORE publishing
    val e = intercept[GenManifest.ConcurrentMaintenanceException] {
      GenManifest.replace(dir, conf,
        Set("small-1-1.proto.zst", "small-1-2.proto.zst"),
        Seq(tinyEntry("packed-stale.proto.zst")))
    }
    assert(e.getMessage.contains("re-plan"), e.getMessage)
    val s = GenManifest.read(dir, conf).get
    assert(s.version === won.version,
      "the refused swap must not have committed anything")
    assert(s.entries.map(_.name).toSet ===
      Set("erased-1.proto.zst", "untouched.proto.zst"))
    // PARTIAL overlap refuses too — ANY missing name means the plan
    // is stale, even when some names survive
    intercept[GenManifest.ConcurrentMaintenanceException] {
      GenManifest.replace(dir, conf,
        Set("untouched.proto.zst", "small-1-1.proto.zst"),
        Seq(tinyEntry("packed-partial.proto.zst")))
    }
    assert(GenManifest.read(dir, conf).get.version === won.version)
    // a swap whose names are ALL still present commits as before
    val ok = GenManifest.replace(dir, conf, Set("untouched.proto.zst"),
      Seq(tinyEntry("packed-ok.proto.zst")))
    assert(ok.version === won.version + 1)
    assert(ok.entries.map(_.name).toSet ===
      Set("erased-1.proto.zst", "packed-ok.proto.zst"))
    // the ADD side is guarded too: an add name already committed
    // OUTSIDE the remove set (another maintenance landed the same
    // pack, or a caller staged a non-unique name) would duplicate the
    // entry — the direct filterNot++add build lacks commit()'s by-name
    // normalization, so it must refuse instead
    val dup = intercept[GenManifest.ConcurrentMaintenanceException] {
      GenManifest.replace(dir, conf, Set("packed-ok.proto.zst"),
        Seq(tinyEntry("erased-1.proto.zst")))
    }
    assert(dup.getMessage.contains("duplicate"), dup.getMessage)
    assert(GenManifest.read(dir, conf).get.version === ok.version)
    // …while re-adding a name the SAME swap removes stays legal (an
    // in-place rewrite keeping the name)
    val rw = GenManifest.replace(dir, conf, Set("erased-1.proto.zst"),
      Seq(tinyEntry("erased-1.proto.zst")))
    assert(rw.entries.map(_.name).count(_ == "erased-1.proto.zst") === 1)
  }

  test("commits through a symlinked spelling of the table dir share one lock monitor") {
    // two PATH SPELLINGS of one directory must serialize on one JVM
    // monitor (the flock file is shared either way, and two threads on
    // one channel-less lock file throw OverlappingFileLockException
    // rather than block): the monitor key is the canonicalized real
    // path, and an overlap that still slips through degrades to the
    // optimistic protocol instead of escaping as a RuntimeException
    val real = freshDir("graft_man_sym")
    val alias = java.nio.file.Files.createTempDirectory("graft_man_alias")
    java.nio.file.Files.delete(alias)
    java.nio.file.Files.createSymbolicLink(alias,
      java.nio.file.Paths.get(real))
    val n = 12
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val fs = (0 until 2).map { t =>
        val via = if (t == 0) real else alias.toString
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = (1 to n).foreach { i =>
            GenManifest.append(via, conf,
              Seq(tinyEntry(s"sym-$t-$i.proto.zst")))
          }
        })
      }
      fs.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdownNow()
    val s = GenManifest.read(real, conf).get
    assert(s.entries.length === 2 * n, "a commit was lost")
    assert(s.version >= 2L * n, s"v=${s.version}")
    assert(GenManifest.read(alias.toString, conf).get.entries
      .map(_.name).sorted === s.entries.map(_.name).sorted,
      "the two spellings must read one log")
  }

  test("replace-vs-replace thread race: every round exactly one winner, the loser refused") {
    val dir = freshDir("graft_man_rr")
    val rounds = 24
    GenManifest.append(dir, conf, (1 to rounds).flatMap(r =>
      Seq(tinyEntry(s"small-$r-1.proto.zst"),
        tinyEntry(s"small-$r-2.proto.zst"))))
    val v0 = GenManifest.read(dir, conf).get.version
    // both racers fire each round's swap simultaneously (barrier), so
    // many rounds take the lost-PUBLISH retry path inside commitLoop —
    // the path that, unguarded, re-applied filterNot(remove) ++ add
    // and doubled the pack
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    def racer(tag: String): IndexedSeq[Boolean] = (1 to rounds).map { r =>
      barrier.await(60, java.util.concurrent.TimeUnit.SECONDS)
      try {
        GenManifest.replace(dir, conf,
          Set(s"small-$r-1.proto.zst", s"small-$r-2.proto.zst"),
          Seq(tinyEntry(s"pack-$r-$tag.proto.zst")))
        true
      } catch {
        case _: GenManifest.ConcurrentMaintenanceException => false
      }
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val fa = pool.submit(new java.util.concurrent.Callable[IndexedSeq[Boolean]] {
        def call() = racer("a")
      })
      val fb = pool.submit(new java.util.concurrent.Callable[IndexedSeq[Boolean]] {
        def call() = racer("b")
      })
      val (wa, wb) = (fa.get(180, java.util.concurrent.TimeUnit.SECONDS),
        fb.get(180, java.util.concurrent.TimeUnit.SECONDS))
      (0 until rounds).foreach { i =>
        assert(wa(i) ^ wb(i),
          s"round ${i + 1}: wins a=${wa(i)} b=${wb(i)} — a double win " +
            "doubles the pack, a double loss loses the commit")
      }
      val s = GenManifest.read(dir, conf).get
      assert(s.version === v0 + rounds,
        "exactly one commit per round may land")
      assert(!s.entries.exists(_.name.startsWith("small-")),
        "every round's smalls must be retired exactly once")
      (1 to rounds).foreach { r =>
        val packs = s.entries.map(_.name)
          .filter(_.startsWith(s"pack-$r-")).sorted
        val winner = if (wa(r - 1)) "a" else "b"
        assert(packs === Seq(s"pack-$r-$winner.proto.zst"),
          s"round $r: expected the $winner pack alone, got $packs")
      }
    } finally pool.shutdownNow()
  }

  test("cross-PROCESS replace race: the conditional swap arbitrates between JVMs", SlowTest) {
    val dir = freshDir("graft_man_xrr")
    val rounds = 8
    GenManifest.append(dir, conf, (1 to rounds).flatMap(r =>
      Seq(tinyEntry(s"small-$r-1.proto.zst"),
        tinyEntry(s"small-$r-2.proto.zst"))))
    val v0 = GenManifest.read(dir, conf).get.version
    val pa = spawnRaceCommit(dir, "a", rounds.toString, "replace")
    val pb = spawnRaceCommit(dir, "b", rounds.toString, "replace")
    val (outA, outB) = (drainRacer(pa, "a"), drainRacer(pb, "b"))
    def winsOf(out: String): Set[Int] =
      """ROUND (\d+) WIN""".r.findAllMatchIn(out).map(_.group(1).toInt).toSet
    val (winA, winB) = (winsOf(outA), winsOf(outB))
    (1 to rounds).foreach { r =>
      assert(winA(r) ^ winB(r),
        s"round $r: a=${winA(r)} b=${winB(r)}\n$outA\n$outB")
    }
    val s = GenManifest.read(dir, conf).get
    assert(s.version === v0 + rounds)
    assert(!s.entries.exists(_.name.startsWith("small-")))
    (1 to rounds).foreach { r =>
      val winner = if (winA(r)) "a" else "b"
      assert(s.entries.map(_.name)
        .filter(_.startsWith(s"pack-$r-")) ===
        Vector(s"pack-$r-$winner.proto.zst"))
    }
  }

  test("mixed cross-JVM stress: appends + replaces + vacuum + gc in 3 JVMs — nothing lost, doubled, or vacuumed alive", SlowTest) {
    // the full-workload widening of the append-only stress that caught
    // the torn-readdir ghost commit: three processes interleave every
    // commit kind the engine issues, plus the unreferenced-file sweep,
    // against one manifest; afterwards a QUIESCENT verifier replays
    // each racer's op journal against checkpoint+tail state
    val dir = freshDir("graft_man_mixed")
    val R = 6
    def mkFile(n: String, ageSec: Long = 0): Unit = {
      val p = java.nio.file.Paths.get(dir, n)
      java.nio.file.Files.write(p, Array[Byte](0x0a, 0x00))
      if (ageSec > 0) java.nio.file.Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - ageSec * 1000))
    }
    val sharedSmalls = (1 to R).flatMap(r =>
      Seq(s"small-$r-1.proto.zst", s"small-$r-2.proto.zst"))
    sharedSmalls.foreach(n => mkFile(n))
    GenManifest.append(dir, conf, sharedSmalls.map(tinyEntry))
    // stale unreferenced junk + abandoned staging: the sweep's true
    // positives, aged past the racers' 30 s vacuum grace
    val junk = Seq("junk-0.proto.zst", "junk-1.proto.zst")
    junk.foreach(n => mkFile(n, ageSec = 120))
    val v0 = GenManifest.read(dir, conf).get.version
    val tags = Seq("a", "b", "c")
    val procs = tags.map(t =>
      spawnRaceCommit(dir, t, "24", "mixed", "20260816"))
    val outs = tags.zip(procs).map { case (t, p) => t -> drainRacer(p, t) }
    def lines(pfx: String): Seq[Array[String]] = outs.flatMap(_._2
      .linesIterator.filter(_.startsWith(pfx)).map(_.split(" ")))
    // 1. version arithmetic is exact: every journaled commit landed
    //    exactly once (appends + own-packs + shared wins — vacuum and
    //    log-gc never bump the version)
    val totalCommits = lines("DONE ").map(_(2).toLong).sum
    val s = GenManifest.read(dir, conf).get
    assert(s.version === v0 + totalCommits,
      s"v0=$v0 commits=$totalCommits head=${s.version}: a commit was " +
        "lost or doubled")
    // 2. shared-round arbitration under ANY interleaving: a round's
    //    smalls exist until someone wins, so any attempted seeded
    //    round has EXACTLY one winner; unseeded rounds (> R) only lose
    val roundLines = lines("ROUND ")
    val byRound = roundLines.groupBy(_(1).toInt)
    assert(byRound.keySet.exists(_ <= R), "no shared round was attempted")
    byRound.foreach { case (r, ls) =>
      val wins = ls.count(_(2) == "WIN")
      if (r <= R) assert(wins === 1,
        s"seeded round $r: $wins winners of ${ls.length} attempts")
      else assert(wins === 0, s"unseeded round $r won $wins times")
    }
    // 3. the final entry set is EXACTLY the journals' fold: per racer
    //    adds minus own-packed smalls plus packs, plus the shared
    //    outcome per round
    val added = lines("ADD ").map(_(2))
    val ownPacks = lines("OWNPACK ")
    val consumed = ownPacks.flatMap(l => Seq(l(3), l(4))).toSet
    val wonRounds = roundLines.filter(_(2) == "WIN")
      .map(l => l(1).toInt -> outs.find(_._2.contains(
        s"ROUND ${l(1)} WIN")).get._1).toMap
    val expected = (added.filterNot(consumed) ++ ownPacks.map(_(2)) ++
      wonRounds.map { case (r, t) => s"spack-$r-$t.proto.zst" } ++
      (1 to R).filterNot(wonRounds.contains)
        .flatMap(r => Seq(s"small-$r-1.proto.zst", s"small-$r-2.proto.zst")))
      .sorted
    val names = s.entries.map(_.name).sorted
    assert(names.toSeq === expected.toSeq,
      "final manifest diverged from the journals' fold")
    assert(names.distinct.length === names.length, "doubled entry name")
    // 4. the sweep deleted no live file: every committed entry's bytes
    //    are still on disk…
    names.foreach { n =>
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, n)),
        s"live file $n was vacuumed mid-race")
    }
    // …and it DID do its job on the aged junk (the deterministic op
    // walk for this seed runs several sweeps; junk aged past grace)
    assert(lines("VACUUM ").nonEmpty, "no racer ran the sweep")
    junk.foreach { n =>
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, n)),
        s"stale junk $n survived ${lines("VACUUM ").length} sweeps")
    }
  }

  test("two concurrent OPTIMIZEs of the same smalls leave exactly one pack — rows never double") {
    val dir = freshDir("graft_man_2opt")
    Sink.writeNested(CellModel.nestRows(spark, sf0001)
      .repartitionByRange(8, col("key")), dir)
    val n0 = spark.read.format("proto-zst").load(dir).count()
    val start = new java.util.concurrent.CountDownLatch(1)
    val results =
      new java.util.concurrent.ConcurrentLinkedQueue[Either[Throwable, (Int, Int)]]()
    val threads = (1 to 2).map { _ =>
      new Thread(() => {
        start.await()
        try results.add(Right(SinkMaintain.optimizeSink(spark, dir)))
        catch { case t: Throwable => results.add(Left(t)) }
      })
    }
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join(300000))
    import scala.jdk.CollectionConverters._
    val (losses, wins) = results.asScala.toSeq.partition(_.isLeft)
    // the latch usually makes both plan from pre-commit snapshots, so
    // the second swap refuses (a blind double commit would append the
    // loser's pack on top of the winner's — every row doubled). But a
    // scheduler stall CAN delay one thread past the other's full
    // stage+commit, in which case its plan post-dates the first commit
    // and sees the winner's output: it is a no-op when that output is
    // one pack, and otherwise re-packs only the winner's packs that
    // came out under the target, which is legitimately valid — so:
    // every loss must be the typed refusal, at
    // least one must win, and the table-level invariants below hold in
    // EITHER interleaving
    assert(wins.nonEmpty, s"no OPTIMIZE committed: $results")
    losses.foreach { l =>
      assert(l.swap.exists(
          _.isInstanceOf[GenManifest.ConcurrentMaintenanceException]),
        s"an OPTIMIZE may only lose by the typed refusal, got $l")
    }
    val s = GenManifest.read(dir, conf).get
    assert(s.dataEntries.nonEmpty &&
      s.dataEntries.forall(_.name.startsWith("packed-")))
    assert(spark.read.format("proto-zst").load(dir).count() === n0,
      "the losing OPTIMIZE's pack doubled the table")
  }

  test("an OPTIMIZE racing a range erasure can never resurrect the erased keys") {
    val dir = freshDir("graft_man_eraseopt")
    Sink.writeNested(CellModel.nestRows(spark, sf0001)
      .repartitionByRange(8, col("key")), dir)
    val (lo, hi) = ("12".getBytes("UTF-8"), "13".getBytes("UTF-8"))
    def inRange = spark.read.format("proto-zst").load(dir)
      .filter(col("key") >= lit(lo) && col("key") < lit(hi)).count()
    val n0 = spark.read.format("proto-zst").load(dir).count()
    val victims = inRange
    assert(victims > 0, "the erase slice must be populated at every sf")
    val start = new java.util.concurrent.CountDownLatch(1)
    @volatile var eraseRes: Either[Throwable, (Int, Int)] = null
    @volatile var optRes: Either[Throwable, (Int, Int)] = null
    val te = new Thread(() => {
      start.await()
      eraseRes = try Right(SinkMaintain.eraseRange(spark, dir, lo, hi))
      catch { case t: Throwable => Left(t) }
    })
    val to = new Thread(() => {
      start.await()
      optRes = try Right(SinkMaintain.optimizeSink(spark, dir))
      catch { case t: Throwable => Left(t) }
    })
    te.start(); to.start(); start.countDown()
    te.join(300000); to.join(300000)
    // when both plan pre-commit their remove sets overlap (the touched
    // files are small), so one commits and the other aborts loudly —
    // without the conditional replace the losing OPTIMIZE's retry
    // would have re-added a pack built from PRE-erasure bytes. A
    // scheduler stall can serialize them (the late plan post-dates the
    // early commit) and then both legitimately commit — so: any loss
    // must be the typed refusal, at least one op must commit, and the
    // erasure-level invariants below hold in either interleaving
    assert(Seq(eraseRes, optRes).exists(_.isRight),
      s"no maintenance swap committed: erase=$eraseRes opt=$optRes")
    Seq("erase" -> eraseRes, "opt" -> optRes).foreach { case (tag, r) =>
      assert(r.isRight || r.swap.exists(
          _.isInstanceOf[GenManifest.ConcurrentMaintenanceException]),
        s"$tag may only lose by the typed refusal, got $r")
    }
    if (eraseRes.isLeft) {
      // the erasure lost; the documented remedy is re-planning from
      // fresh state — a fresh invocation IS the re-plan
      SinkMaintain.eraseRange(spark, dir, lo, hi)
    }
    assert(inRange === 0L, "the erased keys came back — resurrection")
    assert(spark.read.format("proto-zst").load(dir).count() === n0 - victims,
      "survivors must be conserved exactly once")
  }
}
