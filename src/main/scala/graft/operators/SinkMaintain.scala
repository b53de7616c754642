package graft.operators

import java.io.File

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{FileIndex, GenManifest, ProtoZstFiles}

/** MANIFEST-LIFECYCLE MAINTENANCE for the proto-zst sink — the
  * operations that rewrite or retire committed files behind ONE atomic
  * manifest commit each: small-file OPTIMIZE (q77), unreferenced-file
  * VACUUM, range erasure (q148), generation compaction + retention
  * vacuum (q103), whole-file TTL expiry (q206), and time-window major
  * compaction (q207). Split from `Sink.scala` along the write-path /
  * maintenance seam: the writer, fixtures, and read kernels stay
  * there; every operator here plans from a manifest snapshot, stages
  * invisibly, commits once, and deletes originals only after the
  * commit.
  */
/** Crash-injection points for the maintenance specs (the
  * [[graft.sources.EpochCommitHooks]] pattern). `afterReplace` fires
  * inside [[SinkMaintain.retire]], between the manifest commit and the
  * deletes, so every rewrite shares it: a death there leaves the
  * retired originals (and a staged swap's staging directory) on disk
  * as unreferenced garbage. In [[SinkMaintain.promoteL0]] its first
  * firing is the L1 swap; `beforeL0Commit` fires later, once that swap
  * has cleaned up, right before the L0 drain commit. A spec arms one
  * to throw, simulating a driver death INSIDE the promotion, and then
  * proves the documented crash contract: the level-merged read stays
  * bit-identical through the torn window (L0-wins suppresses the
  * doubled rows), a re-run converges and the sweep retires the
  * residue. No-ops in production.
  */
private[graft] object MaintainHooks {
  @volatile var afterReplace: () => Unit = () => ()
  @volatile var beforeL0Commit: () => Unit = () => ()
  def reset(): Unit = {
    afterReplace = () => (); beforeL0Commit = () => ()
  }
}

object SinkMaintain {

  /** The engine's complete staging-name vocabulary — every maintenance
    * op that stages under the table directory does so under exactly
    * one of these dot-prefixes, and [[stagedSwap]] refuses any other.
    * Vacuum deletes ONLY these (plus `._tmp` writer leftovers and
    * uncommitted `.proto.zst` orphans); any other dot-file is foreign
    * and spared.
    */
  private[graft] val StagingPrefixes: Seq[String] = Seq(
    ".optimize-", ".promote-", ".erase-", ".purge-", ".wmajor-",
    ".pack-erase-", ".tomb-")

  /** THE copy-on-write commit every manifest rewrite shares (OPTIMIZE,
    * LCS promotion, range erasure, window compaction, tombstone purge,
    * release pack-erase). `write` lands the rewritten rows through the
    * sink into a hidden `<stagingPrefix><run>` directory under `dir`;
    * the staged files then move into `dir` under unreferenced
    * `<namePrefix><run>-` names (with their sidecars), invisible to
    * manifest readers, and ONE [[retire]] commit swaps `retired` out
    * and the staged entries in. A reader sees the old file set or the
    * new one, never a mix. A crash before the commit leaves the table
    * intact plus unreferenced garbage [[vacuumUnreferenced]] sweeps; the
    * originals and the staging directory go only AFTER the commit.
    *
    * The staged entries come from the staging write's own manifest
    * (bytes, counts, key and time ranges), so no file metadata is
    * re-read. A rewrite that kept ZERO rows leaves the staging
    * directory governed but without a snapshot: that reads as "no
    * survivors" and the commit just drops `retired`. A replace that
    * lost to a concurrent maintenance commit throws
    * [[graft.sources.GenManifest.ConcurrentMaintenanceException]], and
    * so does a `write` that failed after such a commit retired some of
    * `retired` (the files it reads); re-running the operation re-plans
    * it. Returns the adopted entries.
    */
  private[graft] def stagedSwap(dir: String, conf: Configuration,
      stagingPrefix: String, namePrefix: String,
      retired: Seq[GenManifest.Entry])(
      write: String => Unit): Vector[GenManifest.Entry] = {
    require(StagingPrefixes.contains(stagingPrefix),
      s"staging prefix $stagingPrefix is not in StagingPrefixes: its " +
        "crash leftovers would outlive every vacuum")
    val dirPath = new Path(dir)
    val fs = ProtoZstFiles.fs(dirPath, conf)
    val runId = java.util.UUID.randomUUID().toString.replace("-", "")
    val staging = new Path(dirPath, stagingPrefix + runId)
    try write(staging.toString)
    catch {
      // a concurrent maintenance commit retired (and deleted) files this
      // rewrite was reading: the same lost race the conditional replace
      // refuses, surfaced as a failed read instead
      case e: Exception if GenManifest.read(dir, conf).exists { s =>
          val live = s.entries.iterator.map(_.name).toSet
          !retired.forall(r => live(r.name)) } =>
        val lost = new GenManifest.ConcurrentMaintenanceException(
          s"maintenance aborted: a concurrent commit retired files this " +
            s"rewrite of $dir was reading; table unchanged, staged files " +
            s"retained under $staging")
        lost.initCause(e)
        throw lost
    }
    val staged = GenManifest.read(staging.toString, conf) match {
      case Some(snap) => snap.entries
      case None if GenManifest.governed(staging.toString, conf) => Vector.empty
      case None => throw new IllegalStateException(
        s"staging write left no manifest under $staging")
    }
    val adopted = staged.map { e =>
      val src = new Path(staging, e.name)
      val dst = new Path(dirPath, namePrefix + runId + "-" + e.name)
      if (!fs.rename(src, dst))
        throw new java.io.IOException(
          s"maintenance aborted: rename refused for $src -> $dst; table " +
            "unchanged (manifest not committed), staged files retained " +
            s"under $staging")
      FileIndex.move(fs, src, dst)
      e.copy(name = dst.getName)
    }
    retire(dir, conf, retired, adopted)
    fs.delete(staging, true)
    adopted
  }

  /** The retire-only half of [[stagedSwap]]: ONE atomic
    * [[GenManifest.replace]] drops `retired` (and adds `adopted`), then
    * the retired files and their sidecars are deleted — after the
    * commit, so a crash in between leaves only sweepable garbage.
    */
  private[graft] def retire(dir: String, conf: Configuration,
      retired: Seq[GenManifest.Entry],
      adopted: Seq[GenManifest.Entry] = Vector.empty): Unit = {
    val dirPath = new Path(dir)
    val fs = ProtoZstFiles.fs(dirPath, conf)
    GenManifest.replace(dir, conf, retired.map(_.name).toSet, adopted)
    MaintainHooks.afterReplace()
    retired.foreach { e =>
      val p = new Path(dirPath, e.name)
      fs.delete(p, false)
      FileIndex.delete(fs, p)
    }
  }

  /** OPTIMIZE for the proto-zst format: bin-pack the directory's SMALL
    * files (< `targetBytes`) into files of at least `targetBytes`,
    * preserving the key-clustered layout — the small-files compaction
    * every streaming ingest (q37 writes one file per micro-batch task)
    * eventually needs, and what Delta/Iceberg `OPTIMIZE` does for their
    * formats.
    *
    * The PLAN reads no filesystem metadata at all: the manifest
    * snapshot carries every file's size, so one driver pass picks the
    * rewrite set and sizes the output as `max(1, floor(Σsize/target))`
    * bins. Rounding DOWN gives each bin, on average, at least the
    * target whenever the small set holds it, so a pack is not small and
    * later OPTIMIZEs leave it alone — Cassandra's size-tiered compaction
    * likewise merges only similar-sized SSTables and never rewrites a
    * full-size one. A small set below the target packs into one file
    * that is still small, and so is a pack whose compressed output
    * shrinks under the target: the next OPTIMIZE selects it once more,
    * together with the files written since.
    *
    * The MOVE is one job: the small files are read as an explicit
    * multi-path proto-zst scan (one partition per file, never touching
    * the already-packed files). One bin is `coalesce(1)` into a single
    * task, no exchange; two or more are `repartitionByRange(bins, key)`
    * — each output file covers a contiguous key range, so the
    * rewritten files' key ranges stay maximally selective for q60's
    * plan-time skipping. Either way rows are key-sorted within the
    * file, and the [[stagedSwap]] commits the files under `packed-`
    * names. Tombstone entries are small by nature but never packed
    * (their rows are deleted KEYS).
    *
    * Only manifest-governed directories are optimized: a directory
    * without a manifest is refused, like every other maintenance op —
    * import it through the sink first. Returns (files before, files
    * after).
    */
  def optimizeSink(spark: SparkSession, outDir: String,
      targetBytes: Long = Sink.OptTargetBytes): (Int, Int) = {
    val conf = ProtoZstFiles.hadoopConf()
    val snap = GenManifest.read(outDir, conf)
      .getOrElse(throw new IllegalArgumentException(
        s"$outDir has no manifest: OPTIMIZE commits through the " +
          "manifest; import the directory through the sink first"))
    val nBefore = snap.dataEntries.length
    val small = snap.dataEntries.filter(_.bytes < targetBytes)
    if (small.length < 2) return (nBefore, nBefore)
    val bins = math.max(1L, small.map(_.bytes).sum / targetBytes).toInt
    val packed = stagedSwap(outDir, conf, ".optimize-", "packed-", small) {
      staging =>
        val in = spark.read.format("proto-zst")
          .load(small.map(e => new Path(outDir, e.name).toString): _*)
        (if (bins == 1) in.coalesce(1) else in.repartitionByRange(bins, col("key")))
          .sortWithinPartitions(col("key"))
          .write.format("proto-zst").mode("append").save(staging)
    }
    (nBefore, nBefore - small.length + packed.length)
  }

  /** LCS PROMOTION EXECUTION — the other half of q156's planning, the
    * move Cassandra's LeveledCompactionStrategy makes when L0 backs
    * up: merge every L0 flush with the L1 run files its key range
    * overlaps and rewrite that region of L1 as KEY-DISJOINT sorted
    * runs, leaving L0 empty. Levels are separate manifested
    * directories; the whole decision — which L1 files rewrite, what
    * the merged key hull is — is arithmetic over the two manifests'
    * KB-sized entry rows (the q156/q153 posture: no listing, no file
    * opened to plan).
    *
    * Merge semantics at key collisions: L0 WINS at partition grain —
    * an L0 flush is by definition newer than the run below it (the
    * level invariant), so its row supersedes the L1 row wholesale.
    * Cell-grain reconciliation is q61's generation merge; level
    * promotion is the layout move.
    *
    * The L1 rewrite set closes over the merged key HULL (a fixpoint
    * over manifest rows): the new runs are range-partitioned across
    * the hull, so any L1 file the hull touches must join the rewrite
    * or the disjointness invariant would break against a new run's
    * boundary. Untouched L1 files therefore lie entirely outside the
    * hull, and L1 stays globally disjoint after the commit. Null-key
    * (range-less) L0 files have no place on a keyed level and stay in
    * L0, documented here rather than silently mis-leveled.
    *
    * Crash ordering: the L1 commit (ONE atomic replace) lands FIRST,
    * the L0 drain commit second. Between the two, a level-merged
    * reader (L0-wins) sees every key exactly once — the promoted rows
    * exist in both levels but L0 precedence suppresses the new copies
    * — so there is no torn window; a crash re-promotes idempotently
    * (the rewrite set re-derives from the committed manifests).
    *
    * `maxL0Files` bounds ONE promotion's input (Cassandra's LCS makes
    * the same cut — a compaction task never swallows an unbounded
    * backlog): the OLDEST flushes promote first (manifest order), the
    * within-L0 recency rule per batch composes with L0-wins across
    * batches (a newer still-unpromoted flush supersedes the runs its
    * older siblings just wrote when ITS turn comes), so draining in
    * batches converges to exactly the one-shot result — spec-pinned.
    * The bound also caps the merge plan's width: the per-flush
    * recency lineage grows with the batch, never with the backlog.
    *
    * Returns (promoted L0 files, rewritten L1 files, new L1 files).
    */
  def promoteL0(spark: SparkSession, l0Dir: String, l1Dir: String,
      targetFiles: Int = 0, maxL0Files: Int = 64): (Int, Int, Int) = {
    val conf = ProtoZstFiles.hadoopConf()
    def snap(d: String) = GenManifest.read(d, conf).getOrElse(
      throw new IllegalArgumentException(
        s"promoteL0: no manifest under $d — levels must be sink-governed"))
    val l0Snap = snap(l0Dir)
    val l1Snap = snap(l1Dir)
    // promotion reads by EXPLICIT PATH (no manifest, no anti-set) and
    // moves rows ACROSS directories: a live equality-delete tombstone
    // on either level would be left shadowing nothing while its
    // erased rows re-materialize in L1 — resurrection by routine
    // maintenance. Refuse loudly; purge first makes it safe.
    require(l0Snap.tombEntries.isEmpty && l1Snap.tombEntries.isEmpty,
      "promoteL0 would move rows out from under live equality-delete " +
        "tombstones — run Tombstones.purge on both levels first")
    val l0All = l0Snap.dataEntries
    val l0 = l0All.filter(e => e.count > 0 && e.hasRange).take(maxL0Files)
    if (l0.isEmpty) return (0, 0, 0)
    def cmp(a: Array[Byte], b: Array[Byte]) =
      java.util.Arrays.compareUnsigned(a, b)
    // hull fixpoint over manifest rows: grow the rewrite set until no
    // remaining L1 file overlaps the merged key hull
    var lo = l0.map(_.min).reduce((a, b) => if (cmp(a, b) <= 0) a else b)
    var hi = l0.map(_.max).reduce((a, b) => if (cmp(a, b) >= 0) a else b)
    var rewrite = Vector.empty[GenManifest.Entry]
    var remaining = l1Snap.dataEntries.filter(e => e.count > 0 && e.hasRange)
    var changed = true
    while (changed) {
      val (in, out) = remaining.partition(e =>
        cmp(e.min, hi) <= 0 && cmp(lo, e.max) <= 0)
      changed = in.nonEmpty
      rewrite ++= in
      remaining = out
      in.foreach { e =>
        if (cmp(e.min, lo) < 0) lo = e.min
        if (cmp(e.max, hi) > 0) hi = e.max
      }
    }
    // L0 flushes can overlap EACH OTHER too (that is what makes them
    // L0): collisions within the level resolve by FLUSH RECENCY —
    // manifest entry order is commit order, so a later file's row
    // supersedes an earlier one's at partition grain, the same
    // newest-flush-wins rule Cassandra applies. The window partitions
    // by key over the L0 backlog only (bounded by what is being
    // promoted, never the level below).
    val l0Df = l0.zipWithIndex.map { case (e, i) =>
        spark.read.format("proto-zst")
          .load(new Path(l0Dir, e.name).toString)
          .withColumn("gen", lit(i.toLong))
      }.reduce(_ unionByName _)
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("key"))
          .orderBy(col("gen").desc)))
      .filter(col("rn") === 1).drop("rn", "gen")
    val merged = {
      if (rewrite.isEmpty) l0Df
      else {
        val l1Df = spark.read.format("proto-zst")
          .load(rewrite.map(e => new Path(l1Dir, e.name).toString): _*)
        // L0-wins partition-grain merge: L1 rows whose key an L0 flush
        // rewrote drop out (anti join on the binary key)
        l0Df.unionByName(
          l1Df.join(l0Df.select(col("key")), Seq("key"), "left_anti"))
      }
    }
    val bins = if (targetFiles > 0) targetFiles
      else math.max(1, rewrite.length)
    // commit L1 first (see crash ordering above), then drain L0
    val runs = stagedSwap(l1Dir, conf, ".promote-", "l1run-", rewrite) {
      staging =>
        merged.repartitionByRange(bins, col("key"))
          .sortWithinPartitions(col("key"))
          .write.format("proto-zst").mode("append").save(staging)
    }
    MaintainHooks.beforeL0Commit()
    retire(l0Dir, conf, l0)
    (l0.length, rewrite.length, runs.length)
  }

  /** GC for a manifest-backed directory: delete data files (and their
    * sidecars) present on disk but absent from the committed manifest —
    * the garbage a crashed OPTIMIZE leaves behind (staged `packed-*`
    * files whose manifest commit never happened) plus any abandoned
    * `.optimize-*` staging directory. Deleting unreferenced files is
    * safe because manifest readers never see them; the `graceMs` age
    * guard keeps the sweep from racing an IN-FLIGHT writer whose task
    * files have landed but whose job commit (the manifest append) has
    * not run yet — the same retention reasoning as Delta's VACUUM.
    * Returns the number of data files removed.
    */
  def vacuumUnreferenced(outDir: String,
      graceMs: Long = 24L * 3600 * 1000): Int = {
    val conf = graft.sources.ProtoZstFiles.hadoopConf()
    val dirPath = new org.apache.hadoop.fs.Path(outDir)
    val fs = ProtoZstFiles.fs(dirPath, conf)
    graft.sources.GenManifest.read(outDir, conf) match {
      case None => 0 // no manifest — listing IS the table; nothing is garbage
      case Some(snap) =>
        val committed = snap.entries.map(_.name).toSet
        val cutoff = System.currentTimeMillis() - graceMs
        val removed = fs.listStatus(dirPath).count { s =>
          val n = s.getPath.getName
          val orphanData = s.isFile && n.endsWith(".proto.zst") &&
            !committed(n) && s.getModificationTime < cutoff
          if (orphanData) {
            fs.delete(s.getPath, false)
            FileIndex.delete(fs, s.getPath)
          }
          // every maintenance op stages under one of the ENGINE'S
          // dot-prefixes below and every writer task under a `._tmp`
          // suffix — a crashed run's leftovers under either convention
          // are garbage after the grace window. The purge/erase
          // leftovers matter doubly: a crashed purge's staging holds
          // copies of rows pending deletion, and a crashed eraseKeys
          // tmp holds the erased KEYS — both must not outlive the
          // sweep. Matching is by the ENUMERATED prefixes, not bare
          // startsWith("."): foreign dot-files in a table directory
          // (.DS_Store, editor/tool state, Hadoop's `.x.crc` checksum
          // siblings of live data) are not the engine's to delete.
          val staleStaging =
            SinkMaintain.StagingPrefixes.exists(n.startsWith) &&
              s.getModificationTime < cutoff
          if (staleStaging) fs.delete(s.getPath, s.isDirectory)
          val staleTaskTmp = s.isFile && n.endsWith("._tmp") &&
            s.getModificationTime < cutoff
          if (staleTaskTmp) fs.delete(s.getPath, false)
          orphanData
        }
        removed
    }
  }

  /** q148 erase range: the q60 key range, so the file-prune story and
    * its oracle predicate are shared verbatim.
    */
  private val EraseLo = "200".getBytes("UTF-8")

  private val EraseHi = "300".getBytes("UTF-8")

  /** PHYSICAL ERASURE of a key range from a manifested generation —
    * the right-to-be-forgotten primitive. Tombstones (q81's change
    * feed, the reference's deletion model) only SHADOW data; an
    * erasure request requires the bytes gone, which means rewriting
    * files — and the manifest's per-file key ranges make that rewrite
    * SURGICAL: only files whose [min,max] intersects the erase range
    * are read, filtered, and re-staged; every other file is untouched
    * (not read, not copied — at 100 TB with range-clustered keys,
    * that is the difference between rewriting a few files and
    * rewriting the table). Commit is the [[stagedSwap]] under
    * `erased-` names: a reader sees the old table or the new one, never
    * a partial erase. A touched file whose every row falls in the range
    * simply leaves the manifest with no replacement.
    *
    * Returns (files rewritten, files untouched).
    */
  private[graft] def eraseRange(spark: SparkSession, outDir: String,
      lo: Array[Byte], hi: Array[Byte]): (Int, Int) = {
    import java.util.Arrays.compareUnsigned
    val conf = ProtoZstFiles.hadoopConf()
    val snap = GenManifest.read(outDir, conf)
      .getOrElse(throw new IllegalStateException(
        s"eraseRange requires a manifested directory: $outDir"))
    // DATA entries only: tombstone files hold deleted keys, not rows —
    // rewriting one as data would resurrect its keys as empty rows
    val (touched, untouched) = snap.dataEntries.partition { e =>
      // conservative: a file with no recorded range might hold anything
      !e.hasRange ||
        (compareUnsigned(e.max, lo) >= 0 && compareUnsigned(e.min, hi) < 0)
    }
    if (touched.isEmpty) return (0, untouched.length)
    stagedSwap(outDir, conf, ".erase-", "erased-", touched) { staging =>
      spark.read.format("proto-zst")
        .load(touched.map(e => new Path(outDir, e.name).toString): _*)
        .filter(!(col("key") >= lit(lo) && col("key") < lit(hi)))
        .write.format("proto-zst").mode("append").save(staging)
    }
    (touched.length, untouched.length)
  }

  /** q148 fixture: a fresh range-partitioned manifested generation
    * with the [[EraseLo]], [[EraseHi]]) keys physically erased. Not
    * shared with q60's [[Sink.rangedFixture]] — erasure mutates the
    * directory.
    */
  private val erasedFixture = SessionFixture("erased") {
    (spark, dir) =>
      val out = Scratch.dir("graft_erase")
      Sink.writeNested(CellModel.nestRows(spark, dir)
        .repartitionByRange(8, col("key")), out)
      val (t, u) = eraseRange(spark, out, EraseLo, EraseHi)
      require(t >= 1 && u >= 1, "erasure fixture must rewrite some files " +
        s"and spare others (touched=$t untouched=$u) or it proves nothing")
      out
  }

  /** q148: ERASURE READBACK — the full post-erase corpus through the
    * manifest scan. The oracle rebuilds the same table from the raw
    * rows MINUS the erased range, so hash equality proves both
    * directions: every erased key is gone AND every surviving key's
    * cells are byte-complete (a botched rewrite that dropped or
    * duplicated a neighbor breaks the hash). File-surgery facts
    * (untouched files not rewritten, atomic commit) are pinned by
    * ManifestSpec, not the oracle.
    */
  def erasureRead(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.decode
    val out = erasedFixture(spark, dir)
    spark.read.format("proto-zst").load(out)
      .select(decode(col("key"), "UTF-8").as("key"),
        size(col("columns")).cast("long").as("n_cells"))
  }

  /** The q77 fixture: a deliberately fragmented sink directory (16
    * range-partitioned small files — a stand-in for many streaming
    * epochs' worth of per-task files), then [[optimizeSink]] packs it.
    * Built once per (context, sf dir); the value is the directory with
    * the pack's (filesBefore, filesAfter), so the spec can assert the
    * pack actually happened.
    */
  val optimizedFixture = SessionFixture("sink_optimized") {
    (spark, dir) =>
      val out = Scratch.dir("graft_optfix")
      Sink.writeNested(CellModel.nestRows(spark, dir)
        .repartitionByRange(16, col("key")), out)
      (out, optimizeSink(spark, out))
  }

  /** q77: read-back over the OPTIMIZED directory — the proof the pack
    * is lossless: the flattened cells from the packed files must
    * hash-match the exact same oracle as q30's round trip over the
    * unpacked fixture. The spec additionally asserts the file count
    * dropped and every packed file still carries a selective index
    * (so q60-style plan-time skipping keeps working after
    * maintenance).
    */
  def optimizedRead(spark: SparkSession, dir: String): DataFrame = {
    val (outDir, _) = optimizedFixture(spark, dir)
    CellModel.flatCells(spark.read.format("proto-zst").load(outDir))
  }

  /** Marker file a vacuum leaves in the surviving compacted
    * generation: the retention cut (µs). As-of reads below it would
    * need the deleted generations and must refuse.
    */
  private val RetentionMarkerName = "_retention_cut_us"

  private def writeRetentionCut(genDir: String, cutUs: Long): Unit = {
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(genDir, RetentionMarkerName), cutUs.toString)
    ()
  }

  private[graft] def readRetentionCut(genDir: String): Option[Long] = {
    val p = java.nio.file.Paths.get(genDir, RetentionMarkerName)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.readString(p).trim.toLongOption
    else None
  }

  /** Materialize the q61 merge as a NEW sink generation (same bucket
    * spec, so every later read/merge over it stays storage-partitioned)
    * and return it with its compaction watermark — the max write_time
    * across the source generations. Tombstone winners are dropped in
    * the stored head: for any as-of at/after the watermark they would
    * shadow-then-drop anyway, which is exactly why the vacuum cut may
    * not go below it. The reference deletes rebuildable artifacts the
    * same way (`SSTableReaderPatched.java:180-211`, stale Summary.db).
    */
  def compactGeneration(spark: SparkSession, g0: String,
      g1: String): (String, Long) = {
    graft.sources.GraftCatalog.ensure(spark)
    val conf = graft.sources.ProtoZstFiles.hadoopConf()
    val g2 = Scratch.dir("graft_gen2")
    graft.sources.GraftBucket.writeSpec(g2, Sink.GenBuckets, conf)
    Sink.mergedGens(spark, g0, g1)
      .select(col("key"), filter(col("cols"),
        c => length(c.getField("value")) > 0).as("columns"))
      .writeTo(graft.sources.GraftCatalog.tableName(g2)).append()
    val cutUs = Seq(g0, g1).map { g =>
      spark.table(graft.sources.GraftCatalog.tableName(g))
        .select(explode(col("columns")).as("c"))
        .agg(max(col("c.write_time"))).collect()(0).getLong(0)
    }.max
    (g2, cutUs)
  }

  /** VACUUM: delete generations fully superseded by `compacted` for
    * every read at or after `cutUs`. REFUSES (files untouched) when the
    * cut lies below any write_time in the generations being deleted —
    * an as-of read between those instants would still need them; the
    * check is a column-pruned max over the doomed generations' cell
    * timestamps, the only part of a vacuum that looks at data (the
    * delete itself is directory-level metadata). After a successful
    * vacuum the surviving generation carries the cut as a marker and
    * [[asofReadRetained]] refuses instants below it LOUDLY instead of
    * silently returning a head-shaped lie.
    */
  def vacuumGenerations(spark: SparkSession, olds: Seq[String],
      compacted: String, cutUs: Long): Unit = {
    graft.sources.GraftCatalog.ensure(spark)
    val maxWt = olds.map { g =>
      spark.table(graft.sources.GraftCatalog.tableName(g))
        .select(explode(col("columns")).as("c"))
        .agg(max(col("c.write_time"))).collect()(0).getLong(0)
    }.max
    if (cutUs < maxWt)
      throw new IllegalStateException(
        s"vacuum refused: retention cut $cutUs is below write_time " +
          s"$maxWt still present in ${olds.mkString(",")} — an as-of " +
          "read after the cut would lose those cells")
    writeRetentionCut(compacted, cutUs)
    olds.foreach(g => Scratch.delete(new File(g)))
  }

  /** As-of read over a single (compacted) generation honoring its
    * retention marker: instants below the vacuum cut throw — the
    * generations that could answer them are gone, and a silent
    * head-shaped answer would be wrong.
    */
  def asofReadRetained(spark: SparkSession, gen: String,
      tUs: Long): DataFrame = {
    readRetentionCut(gen).foreach { cut =>
      if (tUs < cut) throw new IllegalStateException(
        s"as-of $tUs predates the vacuum retention cut $cut on $gen: " +
          "the generations holding that history were deleted")
    }
    graft.sources.GraftCatalog.ensure(spark)
    Sink.decodeLiveCells(
      spark.table(graft.sources.GraftCatalog.tableName(gen))
        .select(col("key"), filter(col("columns"),
          c => c.getField("write_time") <= tUs).as("cols")))
  }

  /** q103: the full lifecycle as a driver-checked read — build private
    * generations (never the shared q61/q80/q81 fixture), compact, then
    * VACUUM the originals at the compaction watermark; the HEAD read
    * through the survivor must equal q61's merge of the two originals
    * (same oracle), proving the delete lost nothing a post-cut reader
    * could see.
    */
  def vacuumedRead(spark: SparkSession, dir: String): DataFrame =
    asofReadRetained(spark, vacuumedFixture(spark, dir), Long.MaxValue)

  private[graft] val vacuumedFixture = SessionFixture("sink_vacuumed") {
    (spark, dir) =>
      val (g0, g1) = Sink.buildGens(spark, dir)
      val (gen2, cutUs) = compactGeneration(spark, g0, g1)
      vacuumGenerations(spark, Seq(g0, g1), gen2, cutUs)
      gen2
  }

  /** q206: WHOLE-FILE TTL EXPIRY — the payoff move of time-window
    * layouts (Cassandra's TWCS drops entire expired SSTables; Delta
    * drops whole partitions past retention): every manifest entry
    * whose recorded cell write-time range ends PROVABLY before the
    * cutoff is removed by ONE atomic manifest commit — the expired
    * files are never opened, never read, never rewritten; at 100 TB,
    * retiring a day costs one tiny commit plus unlinks instead of a
    * corpus compaction. Conservative by construction: a time-less
    * entry (legacy manifest; a file of cell-less rows) can't prove
    * itself old and is KEPT — absence degrades to retaining, never to
    * deleting. Physical deletes follow the commit (the OPTIMIZE
    * discipline: a reader sees the old set or the new set, a crash
    * leaves sweepable garbage, and — like erasure — expiry
    * invalidates pinned versions older than the commit, by design).
    * Returns the number of files expired.
    */
  def expireByTime(outDir: String, cutoffUs: Long): Int = {
    val conf = ProtoZstFiles.hadoopConf()
    val snap = GenManifest.read(outDir, conf)
      .getOrElse(throw new IllegalArgumentException(
        s"$outDir has no manifest: whole-file expiry needs attested " +
          "write-time ranges; use a row-level filter + rewrite instead"))
    val expired = snap.dataEntries.filter(_.times.exists(_._2 < cutoffUs))
    if (expired.isEmpty) return 0
    retire(outDir, conf, expired)
    expired.length
  }

  /** q206's query surface: a private two-commit temporal history (the
    * q196 midpoint split — NOT the shared pin fixture, which must stay
    * unexpired), expired at the midpoint, then read back flat: the
    * surviving cells must be exactly the post-cutoff slice, proven by
    * the DuckDB oracle. The expiry itself runs once (fixture-cached).
    */
  private[graft] val ttlExpireFixture = SessionFixture("ttl") {
    (spark, dir) =>
      val out = Scratch.dir("graft_ttl")
      val cells = CellModel.liveNestInput(spark, dir)
      val b = cells.agg(min(col("write_time")), max(col("write_time"))).head()
      val t = b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 2
      Sink.writeNested(CellModel.nestCells(cells.filter(col("write_time") < t)), out)
      Sink.writeNested(CellModel.nestCells(cells.filter(col("write_time") >= t)), out)
      val n = expireByTime(out, t)
      require(n > 0, s"TTL fixture expired no files under $out")
      out
  }

  def ttlExpiredRead(spark: SparkSession, dir: String): DataFrame = {
    val out = ttlExpireFixture(spark, dir)
    CellModel.flatCells(spark.read.format("proto-zst").load(out))
  }

  /** q207: TIME-WINDOW MAJOR COMPACTION — executing q181's `major`
    * verdict through the manifest: every CLOSED time window (its upper
    * bound at-or-before `cutoffUs`, so under TWCS's rule it can never
    * receive new writes) holding more than one file is rewritten down
    * to ONE key-sorted file, and ALL windows swap in through a SINGLE
    * atomic manifest commit (the q77 OPTIMIZE discipline: staged files
    * are invisible until the commit, originals are deleted only after
    * it, a crash leaves sweepable garbage and a fully intact table).
    * Files bucket by the window of their NEWEST recorded cell —
    * Cassandra TWCS's bucketing; time-less entries cannot prove a
    * window and are left alone (q206's conservatism: absence degrades
    * to keeping, never to rewriting). The packed file's manifest entry
    * carries its own observed write-time range (the writer records it
    * for free), so q189's temporal skip and q206's whole-file expiry
    * keep firing on the compacted layout — one immutable file per
    * closed window is exactly the steady state expiry drops wholesale.
    * Physical re-layout preserves the row MULTISET (the Delta-OPTIMIZE
    * contract): newest-wins reconcile stays a read-side kernel (q53),
    * so reads are bit-equal before and after. Idempotent: a second run
    * finds one file per closed window and commits nothing. Like expiry
    * and OPTIMIZE, compacting under a live stream is caught loudly by
    * the source's shrank-directory guard — stop the stream first.
    *
    * Scale: the plan is arithmetic over one KB-sized manifest snapshot
    * (no file opened, no listing); execution reads only the closed
    * windows' files — the bounded backlog q181 flagged, never the
    * corpus — and the commit is one rename. Returns (windows
    * compacted, files replaced).
    */
  def compactWindows(spark: SparkSession, outDir: String,
      windowUs: Long, cutoffUs: Long): (Int, Int) = {
    require(windowUs > 0, s"windowUs must be positive, got $windowUs")
    val conf = ProtoZstFiles.hadoopConf()
    val snap = GenManifest.read(outDir, conf)
      .getOrElse(throw new IllegalArgumentException(
        s"$outDir has no manifest: window compaction plans from " +
          "attested write-time ranges; import the directory through the " +
          "sink first"))
    val closed = snap.dataEntries
      .filter(_.times.isDefined)
      .groupBy(e => e.times.get._2 / windowUs)
      .filter { case (w, es) =>
        (w + 1) * windowUs <= cutoffUs && es.length > 1 }
      .toSeq.sortBy(_._1)
    if (closed.isEmpty) return (0, 0)
    // THE commit: one staged swap covers every closed window, each
    // window written as its own one-file job into the shared staging
    val replaced = closed.flatMap(_._2)
    stagedSwap(outDir, conf, ".wmajor-", "wmajor-", replaced) { staging =>
      closed.foreach { case (_, es) =>
        spark.read.format("proto-zst")
          .load(es.map(e => new Path(outDir, e.name).toString): _*)
          .coalesce(1).sortWithinPartitions(col("key"))
          .write.format("proto-zst").mode("append").save(staging)
      }
    }
    (closed.length, replaced.length)
  }

  /** q207's query surface: a private multi-window, multi-file layout
    * (live cells bucketed into absolute `windowUs` windows of their
    * write time, two hash-split files per window — each file's newest
    * cell provably inside its window), window-major-compacted below
    * the newest window's lower bound, then read back flat: the
    * surviving cells must be EXACTLY the original live-cell projection
    * — the oracle (q77's read-equivalence discipline) proves physical
    * re-layout changed nothing a reader can see. The compaction runs
    * once (fixture-cached).
    */
  private[graft] val wmajorFixture = SessionFixture("wmajor") {
    (spark, dir) =>
      val out = Scratch.dir("graft_wmajor")
      val cells = CellModel.liveNestInput(spark, dir)
      val b = cells.agg(min(col("write_time")), max(col("write_time"))).head()
      val windowUs = (b.getLong(1) - b.getLong(0)) / 3 + 1
      val winOf = expr(s"write_time DIV $windowUs")
      val wins = cells.select(winOf.as("w")).distinct()
        .collect().map(_.getLong(0)).sorted
      require(wins.length >= 3, s"wmajor fixture: ${wins.length} windows")
      wins.foreach { w =>
        (0 to 1).foreach { s =>
          Sink.writeNested(CellModel.nestCells(cells.filter(winOf === w &&
            crc32(col("name")) % 2 === s)).coalesce(1), out)
        }
      }
      val (nw, nf) =
        compactWindows(spark, out, windowUs, wins.last * windowUs)
      require(nw == wins.length - 1 && nf == 2 * nw,
        s"wmajor fixture compacted ($nw windows, $nf files), expected " +
          s"(${wins.length - 1}, ${2 * (wins.length - 1)})")
      out
  }

  def windowCompactedRead(spark: SparkSession, dir: String): DataFrame = {
    val out = wmajorFixture(spark, dir)
    CellModel.flatCells(spark.read.format("proto-zst").load(out))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q206_ttl_expire" -> ttlExpiredRead,
    "q207_window_compact" -> windowCompactedRead,
    "q148_erasure" -> erasureRead,
    "q103_vacuum_read" -> vacuumedRead,
    "q77_optimize_sink" -> optimizedRead)

  val oracle: Map[String, String] = Map(
    // pack is lossless: same oracle as the q30 read of the unpacked files
    "q77_optimize_sink" -> Core.liveCellsSql,
    // the vacuum lost nothing: the head read through the surviving
    // compacted generation replays as the SAME merge of the (deleted)
    // originals
    "q103_vacuum_read" -> Sink.compactSql,
    // q60's predicate NEGATED: the erase range is gone, everything
    // else survives byte-complete
    "q148_erasure" ->
      (s"SELECT key, count(CASE WHEN kind = 'live' THEN 1 END) AS n_cells " +
        s"FROM (${Core.cellsSql}) " +
        "WHERE NOT partition_deleted AND NOT (key >= '200' AND key < '300') " +
        "GROUP BY key"),
    // q206: whole-file expiry at the midpoint leaves exactly the
    // post-cutoff slice — the same contract as the delta read, reached
    // by dropping files instead of selecting them
    "q206_ttl_expire" -> Releases.versionDeltaSql,
    // q207: window-major compaction preserves the row multiset — the
    // compacted directory reads back as the full live-cell projection
    // (q77's read-equivalence contract, reached by merging a window's
    // files instead of packing small ones)
    "q207_window_compact" -> Core.liveCellsSql)
}
