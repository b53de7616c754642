package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{CellModel, Compaction}

/** q53 merge semantics on sf0.001, checked per key class:
  * keys ≡ 4 (mod 5) are fully tombstoned at +1h (shadowed), keys ≡ 2
  * get the gen-1 update for every live cell, everything else must pass
  * through identical to the single-generation live view.
  */
class CompactionSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sf0001}

  private lazy val out = Compaction.compact(spark, sf0001)
    .localCheckpoint(true)
  private lazy val live = CellModel.liveCellStrings(spark, sf0001)

  test("tombstoned keys (4 mod 5) vanish from the reconciled set") {
    assert(live.filter(col("key").cast("long") % 5 === 4).count() > 0)
    assert(out.filter(col("key").cast("long") % 5 === 4).count() === 0)
  }

  test("updated keys (2 mod 5) surface only the gen-1 cells") {
    val upd = out.filter(col("key").cast("long") % 5 === 2)
    assert(upd.count() ===
      live.filter(col("key").cast("long") % 5 === 2).count())
    assert(upd.filter(col("gen") =!= 1).count() === 0)
    assert(upd.filter(!col("value").endsWith("@2")).count() === 0)
  }

  test("untouched keys reconcile to exactly the live single-gen cells") {
    val rest = out.filter(col("key").cast("long") % 5 =!= 2 &&
      col("key").cast("long") % 5 =!= 4)
      .select("key", "name", "value", "write_time")
    val base = live.filter(col("key").cast("long") % 5 =!= 2 &&
      col("key").cast("long") % 5 =!= 4)
    assert(rest.exceptAll(base).count() === 0)
    assert(base.exceptAll(rest).count() === 0)
    assert(out.filter(col("gen") === 0).count() === base.count())
  }

  test("q181 TWCS plan matches a local replay of windows, files, actions") {
    val got = Compaction.twcsPlan(spark, sf0001).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5)))).toMap
    val cells = live.select("key", "write_time").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val (mn, mx) = (cells.map(_._2).min, cells.map(_._2).max)
    val W = Compaction.TwcsW
    val newest = (mx - mn) * W / (mx - mn + 1)
    def w(t: Long) = (t - mn) * W / (mx - mn + 1)
    val files = cells.map { case (k, t) =>
      val win = w(t)
      ((win, if (win == newest) k.toLong % 4 else k.toLong % 2), k)
    }.groupBy(_._1).view.mapValues(_.map(_._2).distinct.length.toLong)
    val expected = files.toSeq.groupBy(_._1._1).map { case (win, fs) =>
      val counts = fs.map(_._2)
      val action =
        if (win < newest) { if (counts.length > 1) "major" else "none" }
        else if (counts.length >= 4) "stcs" else "none"
      win -> (counts.length.toLong, counts.sum, counts.min, counts.max,
        action)
    }
    assert(got === expected)
    // the fixture's shape actually exercises both actions
    assert(got.values.exists(_._5 === "major"))
    assert(got(newest)._5 === "stcs")
  }

  test("q183 MV deltas: updates pair delete+insert, tombstones delete, rest silent") {
    val ops = Compaction.mvDelta(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3)))
    val liveByKey = live.select("key", "name", "value").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    def keyMod(k: String) = k.toLong % 5
    // updated keys (2 mod 5): every live cell emits exactly one delete
    // of the OLD value and one insert of the value@2
    val updCells = liveByKey.filter(c => keyMod(c._1) == 2)
    assert(ops.filter(o => keyMod(o._3) == 2 && o._1 == "delete").toSet ===
      updCells.map(c => ("delete", c._3, c._1, c._2)).toSet)
    assert(ops.filter(o => keyMod(o._3) == 2 && o._1 == "insert").toSet ===
      updCells.map(c => ("insert", c._3 + "@2", c._1, c._2)).toSet)
    // tombstoned keys (4 mod 5): delete only, nothing inserted
    val delCells = liveByKey.filter(c => keyMod(c._1) == 4)
    assert(ops.filter(o => keyMod(o._3) == 4).toSet ===
      delCells.map(c => ("delete", c._3, c._1, c._2)).toSet)
    // unchanged keys emit NOTHING — the delta stream is write-rate
    // proportional, the property that makes MV maintenance viable
    assert(!ops.exists(o => keyMod(o._3) != 2 && keyMod(o._3) != 4))
  }

  test("q181 plans from the manifest alone: no listing, no data read") {
    Compaction.twcsFixture(spark, sf0001) // build outside the window
    graft.sources.MetaIO.reset()
    assert(Compaction.twcsPlan(spark, sf0001).collect().nonEmpty)
    assert(graft.sources.MetaIO.dataListings.get() === 0L)
    assert(graft.sources.MetaIO.sidecarReads.get() === 0L)
    assert(graft.sources.MetaIO.manifestReads.get() > 0L)
  }

  test("q189 prunes closed-window files at plan time; result unchanged") {
    val dir = Compaction.twcsFixture(spark, sf0001)
    val total = graft.sources.GenManifest
      .read(dir, spark.sessionState.newHadoopConf())
      .get.entries.count(_.count > 0)
    graft.sources.MetaIO.reset()
    val hot = Compaction.hotWindowRead(spark, sf0001)
    // the temporal option dropped every closed-window file from the
    // PLAN — fewer partitions than committed files, before any task ran
    assert(hot.rdd.getNumPartitions < total,
      s"${hot.rdd.getNumPartitions} partitions for $total files")
    val got = hot.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(graft.sources.MetaIO.dataListings.get() === 0L)
    assert(graft.sources.MetaIO.sidecarReads.get() === 0L)
    // correctness does not depend on the skip: the full read under the
    // same in-plan window predicate yields the identical result
    val cells = live.select("key", "write_time").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val (mn, mx) = (cells.map(_._2).min, cells.map(_._2).max)
    val W = Compaction.TwcsW
    val newest = (mx - mn) * W / (mx - mn + 1)
    val expected = cells.filter(c => (c._2 - mn) * W / (mx - mn + 1) == newest)
      .groupBy(_._1).view.mapValues(_.length.toLong).toMap.toSet
    assert(got === expected)
  }

  test("q233 LCS promotion: one commit per level, disjoint sorted runs, bit-equal reads, idempotent") {
    import graft.operators.{SinkMaintain, Sink}
    import graft.sources.{GenManifest, ProtoZstFiles}
    val conf = ProtoZstFiles.hadoopConf()
    // a PRIVATE two-level fixture (promotion mutates it)
    val (l0, l1) = Compaction.buildLeveled(spark, sf0001)
    def merged() = {
      val d0 = spark.read.format("proto-zst").load(l0)
      val d1 = spark.read.format("proto-zst").load(l1)
      d0.unionByName(d1.join(d0.select(col("key")), Seq("key"), "left_anti"))
        .select(decode(col("key"), "UTF-8"), size(col("columns")))
        // the fixture's overlapping L0 flushes hold IDENTICAL rows for
        // their shared keys (both sliced from one corpus), so distinct
        // is the within-L0 newest-flush-wins resolution here
        .collect().map(_.toString).distinct.sorted.toSeq
    }
    val before = merged()
    val l1Before = GenManifest.read(l1, conf).get
    val l0Before = GenManifest.read(l0, conf).get
    assert(l0Before.entries.nonEmpty && l1Before.entries.length === 3)
    val (p, rw, nw) = SinkMaintain.promoteL0(spark, l0, l1)
    // the fixture's L1 slices ALL overlap the L0 hull — everything
    // rewrites, in one commit per level
    assert(p === l0Before.entries.length && rw === 3 && nw >= 1)
    val l1After = GenManifest.read(l1, conf).get
    val l0After = GenManifest.read(l0, conf).get
    assert(l1After.version === l1Before.version + 1, "L1 must commit once")
    assert(l0After.version === l0Before.version + 1, "L0 must commit once")
    assert(l0After.entries.isEmpty, "L0 not drained")
    assert(ProtoZstFiles.list(l0, conf).isEmpty, "promoted L0 files remain")
    // the new level is key-sorted, attested, and PAIRWISE DISJOINT —
    // the LCS invariant the hull fixpoint exists to protect
    val runs = l1After.entries
    assert(runs.forall(e => e.sorted && e.hasRange && e.count > 0))
    assert(runs.forall(_.name.startsWith("l1run-")))
    def cmp(a: Array[Byte], b: Array[Byte]) =
      java.util.Arrays.compareUnsigned(a, b)
    runs.combinations(2).foreach { w =>
      val (a, b) = (w(0), w(1))
      assert(cmp(a.min, b.max) > 0 || cmp(b.min, a.max) > 0,
        s"${a.name} overlaps ${b.name}")
    }
    // disk holds exactly the committed set; the level-merged read is
    // bit-equal before and after (nothing lost, doubled, or unmerged)
    assert(ProtoZstFiles.list(l1, conf).length === runs.length)
    assert(merged() === before)
    // idempotent: an empty L0 promotes to a no-op, no commits
    assert(SinkMaintain.promoteL0(spark, l0, l1) === ((0, 0, 0)))
    assert(GenManifest.read(l1, conf).get.version === l1After.version)
    // refusing a manifest-less level, not listing-guessing
    val foreign = java.nio.file.Files.createTempDirectory("graft_lcs_foreign")
      .toFile.getAbsolutePath
    val e = intercept[IllegalArgumentException] {
      SinkMaintain.promoteL0(spark, foreign, l1)
    }
    assert(e.getMessage.contains("no manifest"), e.getMessage)
  }

  /** The q233 crash contract, EXECUTED: arm a [[graft.operators.MaintainHooks]]
    * injection point inside the two-commit promotion window, die
    * there, and prove what the promoteL0 scaladoc promises — the
    * level-merged read is bit-identical THROUGH the torn window (the
    * promoted rows exist in both levels, L0-wins suppresses the new
    * copies; after the unlinks, the L1 manifest already carries the
    * runs), a re-run converges to the uninterrupted result, and the
    * crash's only residue is unreferenced garbage the sweep retires.
    * "afterL1" dies between the L1 commit and its cleanup, so that
    * residue is really on disk: the rewritten originals and the
    * `.promote-` staging directory.
    */
  private def promoteCrash(point: String): Unit = {
    import graft.operators.{MaintainHooks, SinkMaintain}
    import graft.sources.{GenManifest, ProtoZstFiles}
    val conf = ProtoZstFiles.hadoopConf()
    val (l0, l1) = Compaction.buildLeveled(spark, sf0001)
    def merged() = {
      val d0 = spark.read.format("proto-zst").load(l0)
      val d1 = spark.read.format("proto-zst").load(l1)
      d0.unionByName(d1.join(d0.select(col("key")), Seq("key"), "left_anti"))
        .select(decode(col("key"), "UTF-8"), size(col("columns")))
        .collect().map(_.toString).distinct.sorted.toSeq
    }
    val before = merged()
    val l0V = GenManifest.read(l0, conf).get.version
    val l1Before = GenManifest.read(l1, conf).get.entries.map(_.name)
    val killer: () => Unit =
      () => throw new RuntimeException(s"injected promotion crash $point")
    try {
      if (point == "afterL1") MaintainHooks.afterReplace = killer
      else MaintainHooks.beforeL0Commit = killer
      val e = intercept[RuntimeException] {
        SinkMaintain.promoteL0(spark, l0, l1)
      }
      assert(e.getMessage.contains("injected promotion crash"), e)
    } finally MaintainHooks.reset()
    // the torn window: L1 committed (runs live), L0 NOT drained — and
    // the level-merged read is bit-identical anyway (L0 precedence)
    val l1Mid = GenManifest.read(l1, conf).get
    assert(l1Mid.entries.forall(_.name.startsWith("l1run-")),
      "the L1 swap must be atomic — no mixed old/new level")
    assert(GenManifest.read(l0, conf).get.version === l0V,
      "the L0 drain must not have committed")
    assert(GenManifest.read(l0, conf).get.entries.nonEmpty)
    assert(merged() === before,
      s"read diverged inside the $point torn window")
    val l1Files = new java.io.File(l1).list().toSeq
    val rewritten = l1Before.filterNot(l1Mid.entries.map(_.name).toSet)
    val leftovers = rewritten.filter(l1Files.contains) ++
      l1Files.filter(_.startsWith(".promote-"))
    if (point == "afterL1")
      assert(rewritten.nonEmpty && leftovers.length === rewritten.length + 1,
        s"a death between commit and cleanup must leave the originals " +
          s"and the staging dir: $leftovers")
    else assert(leftovers.isEmpty, s"the L1 swap did not clean up: $leftovers")
    // recovery IS a re-run: the rewrite set re-derives from the two
    // committed manifests, L0 drains, the level stays disjoint
    SinkMaintain.promoteL0(spark, l0, l1)
    assert(GenManifest.read(l0, conf).get.entries.isEmpty, "L0 not drained")
    assert(merged() === before, s"re-promotion after $point diverged")
    val runs = GenManifest.read(l1, conf).get.entries
    def cmp(a: Array[Byte], b: Array[Byte]) =
      java.util.Arrays.compareUnsigned(a, b)
    runs.combinations(2).foreach { w =>
      assert(cmp(w(0).min, w(1).max) > 0 || cmp(w(1).min, w(0).max) > 0,
        s"${w(0).name} overlaps ${w(1).name} after crash recovery")
    }
    // the crash residue (undeleted rewrite originals / first-attempt
    // runs replaced by the re-run) is manifest-invisible garbage: the
    // sweep retires it and disk converges to exactly the committed set
    SinkMaintain.vacuumUnreferenced(l1, graceMs = 0)
    SinkMaintain.vacuumUnreferenced(l0, graceMs = 0)
    assert(ProtoZstFiles.list(l1, conf).map(f =>
        new org.apache.hadoop.fs.Path(f).getName).sorted.toSeq ===
      runs.map(_.name).sorted.toSeq,
      "disk must hold exactly the committed L1 set after the sweep")
    assert(ProtoZstFiles.list(l0, conf).isEmpty)
  }

  test("q233 crash AFTER the L1 commit: reads hold through the torn window; re-run converges") {
    promoteCrash("afterL1")
  }

  test("q233 crash BEFORE the L0 drain commit: reads hold; re-run converges") {
    promoteCrash("beforeL0")
  }

  test("q233 bounded-batch promotion drains the backlog and converges to the one-shot result") {
    import graft.operators.{SinkMaintain, Sink}
    import graft.sources.{GenManifest, ProtoZstFiles}
    val conf = ProtoZstFiles.hadoopConf()
    // two private fixtures from the same corpus: one drains in
    // maxL0Files=1 batches (oldest flush first), the other in one shot
    val (a0, a1) = Compaction.buildLeveled(spark, sf0001)
    val (b0, b1) = Compaction.buildLeveled(spark, sf0001)
    val flushes = GenManifest.read(a0, conf).get.entries.length
    var batches = 0
    while (SinkMaintain.promoteL0(spark, a0, a1, maxL0Files = 1)._1 > 0)
      batches += 1
    assert(batches === flushes, s"expected $flushes single-flush batches")
    assert(GenManifest.read(a0, conf).get.entries.isEmpty)
    SinkMaintain.promoteL0(spark, b0, b1)
    def content(dir: String) = spark.read.format("proto-zst").load(dir)
      .select(decode(col("key"), "UTF-8"), size(col("columns")))
      .collect().map(_.toString).sorted.toSeq
    assert(content(a1) === content(b1),
      "batched drain diverged from the one-shot promotion")
  }
}
