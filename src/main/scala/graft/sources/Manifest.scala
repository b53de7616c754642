package graft.sources

import java.util.concurrent.atomic.AtomicLong

import com.github.luben.zstd.{ZstdInputStream, ZstdOutputStream}
import org.apache.hadoop.fs.{FileSystem, Path}

/** Metadata-I/O counters for the plan-evidence specs: PlanSpec proves a
  * manifest-backed scan plans (and executes) with ZERO data-directory
  * listings and ZERO per-file sidecar reads — the counters are the
  * mechanical witness. Process-global; tests run sequentially in the
  * forked test JVM, so reset-then-assert windows are race-free.
  */
object MetaIO {
  /** `ProtoZstFiles.list` calls (one per data-directory listStatus). */
  val dataListings = new AtomicLong
  /** [[FileIndex]] reads by the listing view: one per listed file
    * that no manifest commits ([[ManifestIndex.fromSidecars]]). A
    * governed read makes none.
    */
  val sidecarReads = new AtomicLong
  /** Every [[FileIndex]] read, by any reader (the listing view, a
    * point lookup's probe, slicing, salvage).
    */
  val indexReads = new AtomicLong
  /** `GenManifest.read` calls (one tiny-dir listing + O(1) small opens). */
  val manifestReads = new AtomicLong
  /** Bytes of per-commit DELTA records published (the steady-state
    * metadata write cost — ManifestSpec proves it scales with the
    * commit's own add/remove set, never with the live file count).
    */
  val commitBytes = new AtomicLong
  /** Bytes of periodic full checkpoints (amortized over
    * [[GenManifest.CheckpointEvery]] commits, zstd-compressed).
    */
  val checkpointBytes = new AtomicLong
  /** Bloom probes on point-lookup scans — made on the DRIVER while
    * planning, one per range- and time-surviving file with a readable
    * [[FileIndex]] (never on a range scan, never by a manifest-only
    * plan) — and how many of those probes proved the file key-free and
    * dropped it from the plan.
    */
  val bloomProbes = new AtomicLong
  val bloomSkips = new AtomicLong
  /** Files a point lookup's plan seeked via the index's frame keys
    * instead of decoding them whole (counted on the driver, once
    * per planned file), and the compressed bytes those seeks name for
    * reading — the spec's witness that a point read of an N-frame file
    * costs O(matching frames), not O(file).
    */
  val frameSeeks = new AtomicLong
  val seekBytes = new AtomicLong
  def reset(): Unit = {
    dataListings.set(0); sidecarReads.set(0); indexReads.set(0)
    manifestReads.set(0)
    commitBytes.set(0); checkpointBytes.set(0)
    bloomProbes.set(0); bloomSkips.set(0)
    frameSeeks.set(0); seekBytes.set(0)
  }
}

/** Per-generation MANIFEST for a proto-zst directory — the table-level
  * analog of the reference keeping Summary/Statistics sidecars beside
  * each data file (`SSTableReaderPatched.java:123-178,221-233`), lifted
  * from per-file to per-directory so a 100 TB generation plans from ONE
  * small read instead of an O(files) listing plus O(files) sidecar
  * opens (at millions of files, the driver bottleneck).
  *
  * Layout (Delta-log style, INCREMENTAL): the log lives under
  * `<dir>/_graft_manifest/` as three file kinds —
  *
  *   - `v<version>.delta` — ONE per commit: the add/remove entry lists
  *     and epoch keys of that commit alone. The create-if-absent
  *     publish of this file IS the atomic commit point. Steady-state
  *     metadata writes are therefore O(delta), never O(live files):
  *     a streaming sink committing one file per micro-batch writes a
  *     ~100-byte record per trigger regardless of how many files the
  *     generation has accumulated (the write-amplification failure a
  *     full-snapshot-per-commit protocol hits under continuous ingest).
  *   - `v<version>.checkpoint.zst` — a zstd-compressed FULL snapshot,
  *     folded every [[CheckpointEvery]] commits by the winning
  *     committer (best-effort, after its delta published): readers
  *     apply newest-checkpoint + delta tail, so a read is one tiny-dir
  *     listing plus at most 1 + CheckpointEvery small file opens —
  *     O(1) in data-file count AND in commit history.
  *   - `v<version>.manifest` — the LEGACY full-snapshot-per-commit
  *     format; still read (as a checkpoint at its version) so a
  *     directory written by an older engine upgrades in place: the
  *     next commit just appends a delta on top of the old snapshot.
  *
  * Writers commit by staging a hidden temp file and publishing it
  * create-if-absent as the NEXT version's delta: on HDFS-like
  * filesystems that is rename (which refuses an existing target), on
  * file: schemes it is a HARD LINK (link(2) fails with EEXIST — posix
  * rename would silently REPLACE a racer's record). A loser of a
  * concurrent race sees its publish refused, re-reads, and retries; no
  * lock SERVICE needed (an S3 deployment swaps in a conditional PUT,
  * the same adaptation Delta's LogStore makes). On local filesystems
  * the publish and the gc deletes additionally serialize on a
  * per-directory flock so the head re-check under it sees a complete
  * listing — see [[withDirLock]] for the torn-readdir ghost-commit
  * this exists to kill.
  *
  * The manifest is AUTHORITATIVE for directories that have one: the
  * committed entry set IS the table, and data files not referenced by
  * it (crashed compactions, in-flight task output) are invisible to
  * readers — which is what makes maintenance commits atomic: OPTIMIZE
  * stages its packed files under unreferenced names and "commits" by
  * publishing the next delta LAST. Directories WITHOUT a manifest
  * (foreign or legacy writers, explicit-file loads) plan from the
  * listing view, which rebuilds the same [[FileMeta]] from one listing
  * and the per-file [[FileIndex]] — absence degrades, never lies.
  */
object GenManifest {
  val DirName = "_graft_manifest"
  private val Header = "graft-manifest-v1"
  // tomb-bearing records carry a BUMPED header: an engine predating
  // the tombstone flag must refuse the whole record loudly (its
  // readFull/readDeltaRec "newer engine's format" path) instead of
  // additively dropping the 9th field and scanning an erase list as
  // data — the Delta/Iceberg reader-version-bump move, enforced
  // rather than documented. Tomb-free records keep v1, so the common
  // case stays readable by every vintage.
  private val HeaderTomb = "graft-manifest-v2"
  private val DeltaHeader = "graft-delta-v1"
  private val DeltaHeaderTomb = "graft-delta-v2"
  private val Retain = 3 // versions kept readable after a commit
  /** Fold a full checkpoint every this many commits. Bounds BOTH the
    * reader's delta-tail length and the log's file count; raising it
    * trades read opens for less checkpoint write amortization.
    */
  val CheckpointEvery = 10L

  private[sources] def hex(b: Array[Byte]): String =
    b.map(x => "%02x".format(x & 0xff)).mkString
  private[sources] def unhex(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  /** One committed data file: name (relative to the directory), on-disk
    * bytes, row count, whether its rows were written key-sorted, the
    * key range (absent when every key in the file was null), and the
    * cell write-time range in µs (absent when the file holds no cells
    * — and in manifests written before the field existed). The writer
    * observes all of this for free while writing; the time range is
    * the per-file min/max timestamp Cassandra keeps in SSTable
    * metadata (`SSTableReaderPatched.java:123-178` reads the analogous
    * Statistics sidecar), and it is what makes time-window compaction
    * planning (q181) and temporal file skipping O(manifest).
    *
    * `tomb` marks an EQUALITY-DELETE TOMBSTONE file: its rows are
    * deleted KEYS, not data — scans subtract them row-locally, and
    * every maintenance op plans over [[Snapshot.dataEntries]] so a
    * tombstone is never packed/compacted/rewritten as data. The flag
    * is the format's one non-additive reader requirement, and it is
    * ENFORCED: tomb-bearing snapshots/deltas publish under bumped
    * v2 headers, so an engine predating the flag refuses the record
    * loudly instead of scanning an erase list as data (the
    * Delta/Iceberg reader-version bump, mechanical). Tomb-free
    * records keep v1.
    */
  final case class Entry(name: String, bytes: Long, count: Long,
      sorted: Boolean, minHex: String, maxHex: String,
      times: Option[(Long, Long)] = None, tomb: Boolean = false) {
    def hasRange: Boolean = minHex.nonEmpty
    def min: Array[Byte] = unhex(minHex)
    def max: Array[Byte] = unhex(maxHex)
  }

  final case class Snapshot(version: Long, entries: Vector[Entry],
      epochs: Set[String] = Set.empty) {
    /** The DATA file set — what scans read as rows and maintenance
      * rewrites. Tombstone entries stay referenced (vacuum spares
      * them) but are never data.
      */
    def dataEntries: Vector[Entry] = entries.filterNot(_.tomb)
    /** Live equality-delete tombstone files awaiting a purge. */
    def tombEntries: Vector[Entry] = entries.filter(_.tomb)
  }

  /** One commit's record: what it removed (by name), what it added,
    * and the epoch keys it committed. Replayed onto the prior snapshot
    * as `entries.filterNot(removed) ++ added` — exactly the fold
    * [[append]] and [[replace]] perform, so replay order equals the
    * order those commits produced.
    */
  private final case class Delta(version: Long, removed: Set[String],
      added: Vector[Entry], epochKeys: Vector[String])

  private def manifestDir(dir: String) = new Path(dir, DirName)
  private def deltaFile(dir: String, v: Long) =
    new Path(manifestDir(dir), f"v$v%020d.delta")
  private def checkpointFile(dir: String, v: Long) =
    new Path(manifestDir(dir), f"v$v%020d.checkpoint.zst")
  private val LegacyName = """v(\d{20})\.manifest""".r
  private val DeltaName = """v(\d{20})\.delta""".r
  private val CkptName = """v(\d{20})\.checkpoint\.zst""".r

  /** Create the manifest MARKER — the (possibly still empty)
    * `_graft_manifest/` directory — for a directory this engine is
    * about to write. The writer calls this on the DRIVER before any
    * task opens a data file, which closes the task-commit → job-commit
    * window: tasks rename their files into the directory as they
    * finish, but a marker-governed reader plans from snapshots only,
    * so those not-yet-published (and possibly later-aborted) files
    * stay invisible — the directory reads as an EMPTY table until the
    * first snapshot commits, never as "whatever the listing happens to
    * catch mid-job".
    */
  def mark(dir: String, conf: org.apache.hadoop.conf.Configuration): Unit = {
    val md = manifestDir(dir)
    val fs = ProtoZstFiles.fs(md, conf)
    if (!fs.exists(md)) {
      // Refuse to take governance over a directory that already holds
      // UNTRACKED data files: the first snapshot starts from an empty
      // entry set, so marking here would silently hide them from every
      // future read (of this job AND of the pre-existing data). A
      // foreign/legacy directory must be imported (re-exported through
      // the sink) before this engine writes into it. One listStatus,
      // driver-side, once per directory lifetime.
      if (ProtoZstFiles.list(dir, conf).nonEmpty)
        throw new IllegalStateException(
          s"refusing to write into $dir: it holds data files not " +
            "tracked by any manifest, and governing it would hide them " +
            "— import the directory through the sink (or write " +
            "elsewhere) first")
      fs.mkdirs(md)
    }
    ()
  }

  /** Whether the directory is manifest-GOVERNED: a committed snapshot
    * exists, or the bare [[mark]] marker does (a sink write is in
    * flight or aborted before its first commit). Governed directories
    * must never fall back to listing — the snapshot set, possibly
    * empty, is the table.
    */
  def governed(dir: String,
      conf: org.apache.hadoop.conf.Configuration): Boolean = {
    val md = manifestDir(dir)
    try ProtoZstFiles.fs(md, conf).exists(md)
    catch { case _: java.io.FileNotFoundException => false }
  }

  // trailing fields are ADDITIVE: readers split with an unbounded
  // limit and index only the fields they know, so an older engine
  // reads a timed manifest correctly (and a newer engine reads an
  // old six-field line as times = None)
  private def renderEntry(sb: StringBuilder, e: Entry): Unit = {
    sb.append(e.name).append('\t').append(e.bytes).append('\t')
      .append(e.count).append('\t').append(if (e.sorted) 1 else 0)
      .append('\t').append(e.minHex).append('\t').append(e.maxHex)
      .append('\t').append(e.times.fold("")(_._1.toString))
      .append('\t').append(e.times.fold("")(_._2.toString))
      .append('\t').append(if (e.tomb) "1" else "")
      .append('\n')
    ()
  }

  private def parseEntry(f: Array[String], off: Int): Entry =
    Entry(f(off), f(off + 1).toLong, f(off + 2).toLong, f(off + 3) == "1",
      f(off + 4), f(off + 5),
      if (f.length >= off + 8 && f(off + 6).nonEmpty)
        Some((f(off + 6).toLong, f(off + 7).toLong))
      else None,
      tomb = f.length >= off + 9 && f(off + 8) == "1")

  private def render(s: Snapshot): Array[Byte] = {
    val sb = new StringBuilder
    sb.append(if (s.entries.exists(_.tomb)) HeaderTomb else Header)
      .append('\n').append(s.version).append('\n')
    // committed streaming epochs ride in the same atomic snapshot
    // ("!epoch" can never collide with a file name — the writer only
    // emits part-/packed-/erased- names); readers that predate the
    // marker parse it as an entry named "!epoch", which no scan ever
    // matches, so the format stays backward-benign
    s.epochs.toSeq.sorted.foreach { k =>
      sb.append("!epoch\t").append(k).append('\n')
    }
    s.entries.foreach(renderEntry(sb, _))
    sb.toString.getBytes("UTF-8")
  }

  private def parse(bytes: Array[Byte]): Option[Snapshot] = {
    val ls = new String(bytes, "UTF-8").split("\n", -1)
    if (ls.length < 2 || (ls(0) != Header && ls(0) != HeaderTomb)) None
    else ls(1).toLongOption.map { v =>
      val body = ls.drop(2).filter(_.nonEmpty).toVector
      val (epochLines, entryLines) = body.partition(_.startsWith("!epoch\t"))
      Snapshot(v, entryLines.map(l => parseEntry(l.split("\t", -1), 0)),
        epochLines.map(_.stripPrefix("!epoch\t")).toSet)
    }
  }

  /** Delta record body: `!epoch\t<key>` per committed epoch key,
    * `-\t<name>` per removal, `+\t<entry fields>` per addition.
    */
  private def renderDelta(d: Delta): Array[Byte] = {
    val sb = new StringBuilder
    sb.append(if (d.added.exists(_.tomb)) DeltaHeaderTomb else DeltaHeader)
      .append('\n').append(d.version).append('\n')
    d.epochKeys.foreach(k => sb.append("!epoch\t").append(k).append('\n'))
    d.removed.toSeq.sorted.foreach(n => sb.append("-\t").append(n).append('\n'))
    d.added.foreach { e => sb.append("+\t"); renderEntry(sb, e) }
    sb.toString.getBytes("UTF-8")
  }

  private def parseDelta(bytes: Array[Byte]): Option[Delta] = {
    val ls = new String(bytes, "UTF-8").split("\n", -1)
    if (ls.length < 2 ||
        (ls(0) != DeltaHeader && ls(0) != DeltaHeaderTomb)) None
    else ls(1).toLongOption.map { v =>
      val body = ls.drop(2).filter(_.nonEmpty).toVector
      Delta(v,
        body.filter(_.startsWith("-\t")).map(_.stripPrefix("-\t")).toSet,
        body.filter(_.startsWith("+\t"))
          .map(l => parseEntry(l.split("\t", -1), 1)),
        body.filter(_.startsWith("!epoch\t"))
          .map(_.stripPrefix("!epoch\t")))
    }
  }

  /** Replay one commit onto the prior snapshot. Entry fold matches
    * [[append]]/[[replace]] exactly; epoch keys re-apply the same
    * monotonic max-per-query pruning [[appendEpoch]] performed, so a
    * replayed log reconstructs the identical epoch set.
    */
  private def applyDelta(s: Snapshot, d: Delta): Snapshot = {
    val eps = d.epochKeys.foldLeft(s.epochs) { (acc, k) =>
      epochSplit(k) match {
        case Some((q, _)) =>
          acc.filterNot(x => epochSplit(x).exists(_._1 == q)) + k
        case None => acc + k
      }
    }
    Snapshot(d.version,
      s.entries.filterNot(e => d.removed(e.name)) ++ d.added, eps)
  }

  /** One consistent-ish view of the log directory's file inventory:
    * full snapshots (legacy manifests + checkpoints) and delta records,
    * each as (version, path). `zstd` marks which fulls need inflating.
    */
  private final case class LogView(
      fulls: Vector[(Long, Path, Boolean)], deltas: Vector[(Long, Path)]) {
    def isEmpty: Boolean = fulls.isEmpty && deltas.isEmpty
    def head: Long = (fulls.map(_._1) ++ deltas.map(_._1)).max
  }

  private def listLog(fs: FileSystem, md: Path): Option[LogView] =
    try {
      val st = fs.listStatus(md)
      val fulls = st.flatMap(s => s.getPath.getName match {
        case LegacyName(v) => Some((v.toLong, s.getPath, false))
        case CkptName(v) => Some((v.toLong, s.getPath, true))
        case _ => None
      }).toVector.sortBy(_._1)
      val deltas = st.flatMap(s => s.getPath.getName match {
        case DeltaName(v) => Some(v.toLong -> s.getPath)
        case _ => None
      }).toVector.sortBy(_._1)
      Some(LogView(fulls, deltas))
    } catch { case _: java.io.FileNotFoundException => None }

  private def readBytes(fs: FileSystem, p: Path, zstd: Boolean): Array[Byte] = {
    val raw = fs.open(p)
    val in = if (zstd) new ZstdInputStream(raw) else raw
    try in.readAllBytes() finally in.close()
  }

  // a COMMITTED record that does not parse is corruption or a newer
  // format — absence degrades, never lies: this must not read as "no
  // manifest" (the governed() fallback would then report an EMPTY
  // table over committed data)
  private def readFull(fs: FileSystem, p: Path, zstd: Boolean): Snapshot =
    parse(readBytes(fs, p, zstd)).getOrElse(throw new java.io.IOException(
      s"manifest $p exists but does not parse — corrupt bytes or " +
        "a newer engine's format; refusing to misread the table " +
        "as empty"))

  private def readDeltaRec(fs: FileSystem, p: Path): Delta =
    parseDelta(readBytes(fs, p, zstd = false)).getOrElse(
      throw new java.io.IOException(
        s"manifest delta $p exists but does not parse — corrupt bytes " +
          "or a newer engine's format; refusing to misread the table"))

  /** Replay the log to `version` (or to head when None) from one
    * listing: newest full snapshot at-or-below the target + the delta
    * tail. None when a needed file vanished or the tail has a gap —
    * a commit/gc race tore the listing; the caller re-lists and
    * retries.
    */
  private def replay(fs: FileSystem, lv: LogView,
      version: Long): Option[Snapshot] = {
    val base = lv.fulls.filter(_._1 <= version).lastOption
    val baseV = base.fold(0L)(_._1)
    val tail = lv.deltas.filter(t => t._1 > baseV && t._1 <= version)
    if (tail.map(_._1) != (baseV + 1 to version).toVector) None
    else try {
      var snap = base.fold(Snapshot(0L, Vector.empty))(b =>
        readFull(fs, b._2, b._3))
      tail.foreach { case (_, p) => snap = applyDelta(snap, readDeltaRec(fs, p)) }
      Some(snap)
    } catch { case _: java.io.FileNotFoundException => None } // gc race
  }

  /** The latest committed snapshot; None when the directory has no
    * manifest (foreign/legacy — callers fall back to listing). One
    * listStatus of the TINY manifest dir + at most
    * 1 + [[CheckpointEvery]] small file opens, regardless of data-file
    * count and of how many commits the generation has ever made.
    */
  def read(dir: String,
      conf: org.apache.hadoop.conf.Configuration): Option[Snapshot] = {
    MetaIO.manifestReads.incrementAndGet()
    val md = manifestDir(dir)
    // "absence degrades, never lies": None means NO manifest exists
    // (foreign/legacy dir). A record that was listed but vanished
    // before open is a gc() race — concurrent commits superseded it —
    // and MUST retry onto the newer state, not report no-manifest
    // (the listing fallback would resurrect pre-compaction files).
    var attempts = 0
    while (attempts < 5) {
      attempts += 1
      val fs = ProtoZstFiles.fs(md, conf)
      listLog(fs, md) match {
        case None => return None
        case Some(lv) if lv.isEmpty => return None
        case Some(lv) =>
          replay(fs, lv, lv.head) match {
            case Some(s) => return Some(s)
            case None => () // torn listing — retry
          }
      }
    }
    throw new java.io.IOException(
      s"manifest for $dir kept vanishing mid-read after $attempts attempts")
  }

  /** TIME TRAVEL: read the snapshot at a SPECIFIC committed version —
    * the table-format "read release N" primitive. Strict where [[read]]
    * degrades: a version outside the retained horizon (never committed,
    * or older than the last [[Retain]] commits) throws with the
    * retained range, because silently answering from HEAD would hand a
    * "pinned" reader someone else's data. The horizon is CONTRACTUAL,
    * not physical: checkpoint spacing can leave older deltas replayable
    * on disk, but answering from them would make pin validity depend on
    * gc timing — the same pin must fail identically everywhere.
    * CONTRACT: a pinned version's FILES are only guaranteed present
    * while every later commit was append-only (the export/streaming-
    * sink pattern); file-rewriting maintenance (OPTIMIZE, erasure)
    * deletes replaced originals immediately — by design, since erasure
    * exists precisely to make bytes unrecoverable — so pinned reads
    * across such a commit fail at scan time, never resurrect erased
    * data.
    */
  def readAt(dir: String, conf: org.apache.hadoop.conf.Configuration,
      version: Long): Snapshot = {
    MetaIO.manifestReads.incrementAndGet()
    val md = manifestDir(dir)
    val fs = ProtoZstFiles.fs(md, conf)
    var attempts = 0
    while (attempts < 5) {
      attempts += 1
      val lv = listLog(fs, md).getOrElse(LogView(Vector.empty, Vector.empty))
      if (lv.isEmpty)
        throw new IllegalArgumentException(
          s"manifest version $version not retained under $dir " +
            "(retained: none — not a manifest-governed directory); " +
            s"versions older than the last $Retain are gc'd at commit")
      val head = lv.head
      val retMin = math.max(1L, head - Retain + 1)
      if (version > head || version < retMin)
        throw new IllegalArgumentException(
          s"manifest version $version not retained under $dir " +
            s"(retained: $retMin..$head); versions older than the " +
            s"last $Retain are gc'd at commit")
      replay(fs, lv, version) match {
        case Some(s) => return s
        case None => () // commit/gc race tore the listing — retry
      }
    }
    throw new java.io.IOException(
      s"manifest log for $dir kept vanishing mid-read after $attempts attempts")
  }

  /** Commit `update(current entries)` as the next version. Optimistic:
    * on a publish refusal (a concurrent commit won the version), the
    * latest snapshot is re-read and `update` re-applied — so `update`
    * must be a pure function of the entry set (appends and
    * drop+replace both are). The commit RECORD is the name-grain diff
    * old→new (writer file names are job-UUID-unique), so replay
    * reproduces the committed set exactly. Returns the committed
    * snapshot.
    */
  def commit(dir: String, conf: org.apache.hadoop.conf.Configuration)(
      update: Vector[Entry] => Vector[Entry]): Snapshot =
    commitLoop(dir, conf) { s =>
      val next = update(s.entries)
      val oldByName = s.entries.map(e => e.name -> e).toMap
      val newByName = next.map(e => e.name -> e).toMap
      val removed = s.entries.iterator
        .filterNot(e => newByName.get(e.name).contains(e)).map(_.name).toSet
      val added = next.filterNot(e => oldByName.get(e.name).contains(e))
      Some((Snapshot(s.version + 1,
        s.entries.filterNot(e => removed(e.name)) ++ added, s.epochs),
        Delta(s.version + 1, removed, added, Vector.empty)))
    }.getOrElse(throw new IllegalStateException("unconditional commit skipped"))

  /** `queryId/epochId` split at the LAST slash (query ids are UUIDs —
    * no slashes — but splitting last-wins keeps any foreign key with
    * embedded slashes well-defined). None for a key with no parsable
    * numeric epoch, which then falls back to set-membership semantics.
    */
  private def epochSplit(k: String): Option[(String, Long)] = {
    val i = k.lastIndexOf('/')
    if (i < 0) None
    else k.substring(i + 1).toLongOption.map(e => (k.substring(0, i), e))
  }

  /** Epoch-idempotent append — the streaming sink's exactly-once
    * guard: the committed (query, epoch) keys live INSIDE the
    * snapshot, so recording the epoch and publishing its files is one
    * atomic version bump. Returns None when the epoch was ALREADY
    * committed (a micro-batch replayed after a driver failure that
    * struck between the manifest commit and Spark's own commit log) —
    * the caller must then delete its freshly written duplicate files
    * instead of publishing them.
    *
    * Retention exploits epoch MONOTONICITY: Spark commits a query's
    * epochs in increasing order and only ever replays the LATEST
    * uncommitted one, so a key at-or-below the recorded max for its
    * query is by definition a replay — refused — and only the MAX
    * committed epoch per query is retained. Snapshot state stays
    * O(files + queries), not O(total epochs ever committed): a
    * long-lived stream's manifest renders/parses/commits at constant
    * epoch cost, matching the sink's "state is O(files)" posture
    * (entries get OPTIMIZE/erasure compaction; this is the epochs'
    * analog). Keys with no `/<digits>` suffix — none are produced by
    * this sink — keep exact set semantics and are never pruned.
    */
  def appendEpoch(dir: String, conf: org.apache.hadoop.conf.Configuration,
      epochKey: String, entries: Seq[Entry]): Option[Snapshot] =
    commitLoop(dir, conf) { s =>
      val replay = epochSplit(epochKey) match {
        case Some((q, e)) => s.epochs.exists(k =>
          epochSplit(k).exists { case (q2, e2) => q2 == q && e2 >= e })
        case None => s.epochs(epochKey)
      }
      if (replay) None
      else {
        val pruned = epochSplit(epochKey) match {
          case Some((q, _)) =>
            s.epochs.filterNot(k => epochSplit(k).exists(_._1 == q))
          case None => s.epochs
        }
        Some((Snapshot(s.version + 1, s.entries ++ entries,
          pruned + epochKey),
          Delta(s.version + 1, Set.empty, entries.toVector,
            Vector(epochKey))))
      }
    }

  private val LockName = "_commit.lock"
  private val lockMonitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Serialize mutate-after-list sections (commit publish, gc deletes)
    * against other local committers — one JVM monitor per manifest dir
    * (two threads on one channel-less lock file would throw
    * OverlappingFileLockException, not block) plus an exclusive
    * cross-process `flock` on `_commit.lock`.
    *
    * WHY THIS EXISTS — the torn-listing ghost commit: readdir of a
    * directory being concurrently modified may MISS entries (observed
    * on ext4 under load). A committer whose read() was built from such
    * a listing computes a stale head h; if gc has already retired
    * delta h+1 (deltas at or below a checkpoint are deleted once
    * `committed` passes the retention horizon), the name is FREE
    * again and the create-exclusive hard link at h+1 SUCCEEDS — the
    * commit lands below the checkpoint horizon where no replay ever
    * looks, and the next gc deletes it: a silently LOST commit (the
    * cross-JVM race spec caught exactly this — one record of 37
    * vanished with a version count of 36). Under the lock nobody else
    * mutates the log while we re-list, so the fresh head is EXACT and
    * the head guard in [[publishHeadGuarded]] is sound. Readers stay
    * lock-free: a torn reader listing degrades to a gap-check retry
    * or a stale-but-valid snapshot, never to data loss. On non-local
    * filesystems (no flock) the section runs optimistically — the
    * fresh-head re-check still closes most of the window; HDFS-like
    * stores arbitrate the final link/rename themselves.
    */
  private def withDirLock[T](fs: FileSystem, md: Path)(f: => T): T = {
    if (!ProtoZstFiles.isLocal(fs.getUri)) f
    else {
      // monitor key is the REAL path: two spellings of one directory
      // (a symlinked working dir) must share the JVM monitor, or both
      // would reach ch.lock() on the same underlying lock file and the
      // second would see OverlappingFileLockException
      val monKey = try java.nio.file.Paths.get(md.toUri.getPath)
          .toRealPath().toString
        catch { case _: java.io.IOException => md.toUri.getPath }
      val mon = lockMonitors.computeIfAbsent(monKey, _ => new Object)
      mon.synchronized {
        val ch = java.nio.channels.FileChannel.open(
          java.nio.file.Paths.get(md.toUri.getPath, LockName),
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.WRITE)
        try {
          // a filesystem without lock support degrades to the
          // optimistic protocol rather than refusing every commit;
          // so does an overlap the canonicalized monitor missed
          // (OverlappingFileLockException is a RuntimeException —
          // an IOException catch alone would let it escape)
          val l = try ch.lock()
            catch {
              case _: java.io.IOException => null
              case _: java.nio.channels.OverlappingFileLockException => null
            }
          try f finally { if (l != null) l.release() }
        } finally ch.close()
      }
    }
  }

  /** Publish `tmp` as `target` = version `prevVersion + 1`, guarded:
    * under the directory lock, re-list and refuse unless the log's
    * head is STILL `prevVersion` — the committer's snapshot must be
    * current at the instant of publish, which (a) makes the
    * create-exclusive link un-raced and (b) makes publishing into the
    * gc-retired past impossible: a retired version v is always below
    * a checkpoint, and a checkpoint is always ≥ the true head's
    * listing floor, so a stale `prevVersion = v - 1` can never equal
    * the fresh head.
    */
  private[graft] def publishHeadGuarded(fs: FileSystem, md: Path,
      prevVersion: Long, tmp: Path, target: Path): Boolean =
    withDirLock(fs, md) {
      val freshHead = listLog(fs, md).filterNot(_.isEmpty)
        .map(_.head).getOrElse(0L)
      freshHead == prevVersion && publish(fs, tmp, target)
    }

  /** Publish `tmp` create-if-absent as `target`. The atomic commit
    * point: on HDFS-like filesystems rename refuses an existing
    * target, but POSIX/LocalFileSystem rename silently REPLACES it
    * — two racers would both "win" and one record would vanish —
    * so on file: schemes the tmp is HARD-LINKED into place
    * (link(2) fails with EEXIST, the posix create-exclusive
    * primitive; the same trick Delta's HDFSLogStore family uses).
    * Commit callers go through [[publishHeadGuarded]]; the checkpoint
    * publish uses this directly (its version is never reused — only
    * the winner of version v ever writes checkpoint v).
    */
  private def publish(fs: FileSystem, tmp: Path, target: Path): Boolean =
    if (ProtoZstFiles.isLocal(fs.getUri))
      try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(target.toUri.getPath),
          java.nio.file.Paths.get(tmp.toUri.getPath))
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      }
    else fs.rename(tmp, target)

  /** The log is line/tab-delimited text: a name or epoch key carrying
    * a tab or newline would silently shear every later field, and a
    * name in the `!` namespace would parse back as an epoch marker —
    * refuse BEFORE anything publishes, so a bad caller cannot poison a
    * committed log (the engine's own writers only emit
    * `part-/packed-/erased-/wmajor-/l1run-` names, all safe).
    */
  private def validate(d: Delta): Unit = {
    def safe(s: String, what: String): Unit =
      require(s.nonEmpty && !s.exists(c => c == '\t' || c == '\n' || c == '\r'),
        s"$what '$s' would corrupt the TSV manifest log")
    d.added.foreach { e =>
      safe(e.name, "manifest entry name")
      require(!e.name.startsWith("!"),
        s"manifest entry name '${e.name}' collides with the !epoch " +
          "marker namespace")
    }
    d.epochKeys.foreach(safe(_, "epoch key"))
  }

  private def commitLoop(dir: String,
      conf: org.apache.hadoop.conf.Configuration)(
      step: Snapshot => Option[(Snapshot, Delta)]): Option[Snapshot] = {
    val md = manifestDir(dir)
    val fs = ProtoZstFiles.fs(md, conf)
    fs.mkdirs(md)
    var attempts = 0
    while (true) {
      attempts += 1
      val cur = read(dir, conf)
      val (next, delta) = step(cur.getOrElse(Snapshot(0L, Vector.empty))) match {
        case None => return None
        case Some(n) => n
      }
      validate(delta)
      val tmp = new Path(md,
        ".tmp-" + java.util.UUID.randomUUID().toString.replace("-", ""))
      val bytes = renderDelta(delta)
      val os = fs.create(tmp, true)
      try os.write(bytes) finally os.close()
      if (publishHeadGuarded(fs, md, next.version - 1, tmp,
          deltaFile(dir, next.version))) {
        fs.delete(tmp, false)
        MetaIO.commitBytes.addAndGet(bytes.length.toLong)
        if (next.version % CheckpointEvery == 0L) checkpoint(fs, dir, next)
        gc(fs, dir, next.version)
        return Some(next)
      }
      fs.delete(tmp, false)
      if (attempts > 64)
        throw new java.io.IOException(
          s"manifest commit for $dir refused after $attempts attempts")
    }
    throw new IllegalStateException("unreachable")
  }

  /** Fold the log into a zstd full checkpoint at `s.version`.
    * Best-effort: only the committer that WON version v reaches here
    * for v, so there is no real race, but the publish stays
    * create-if-absent anyway; a failure just leaves a longer delta
    * tail for readers until the next cadence hit.
    */
  private def checkpoint(fs: FileSystem, dir: String, s: Snapshot): Unit =
    try {
      val target = checkpointFile(dir, s.version)
      val tmp = new Path(manifestDir(dir),
        ".tmp-" + java.util.UUID.randomUUID().toString.replace("-", ""))
      val raw = fs.create(tmp, true)
      val zos = new ZstdOutputStream(raw)
      try zos.write(render(s)) finally zos.close()
      val sz = fs.getFileStatus(tmp).getLen
      if (publish(fs, tmp, target)) MetaIO.checkpointBytes.addAndGet(sz)
      fs.delete(tmp, false)
      ()
    } catch { case _: Exception => () }

  /** Append newly-committed files (the write path's job/epoch commit). */
  def append(dir: String, conf: org.apache.hadoop.conf.Configuration,
      entries: Seq[Entry]): Snapshot =
    commit(dir, conf)(_ ++ entries)

  /** Thrown when a [[replace]] finds any of its `remove` names absent
    * from the manifest it is about to commit against — a concurrent
    * maintenance commit (another OPTIMIZE, an erasure, a purge, an
    * expiry) already retired those files, so the caller's staged
    * rewrite was planned from a table that no longer exists. The
    * caller must NOT be retried blindly: its staged files may carry
    * pre-erasure bytes (re-adding them would resurrect erased data) or
    * duplicate a pack the winner already committed (doubling every
    * row). The remedy is to RE-PLAN from a fresh snapshot — re-run the
    * maintenance operation; its abandoned staged files are
    * manifest-invisible and the regular GC sweep retires them.
    */
  final class ConcurrentMaintenanceException(msg: String)
    extends java.io.IOException(msg)

  /** Drop `remove` (by name) and add `add` in one atomic commit — the
    * OPTIMIZE/compaction swap, reduced to a single record publish.
    *
    * CONDITIONAL: the commit succeeds only if EVERY `remove` name is
    * present in the snapshot it applies to — checked on the first
    * attempt (a caller that planned from a stale read) and on every
    * publish-race retry (a maintenance commit that landed between this
    * caller's read and its publish). A missing name throws
    * [[ConcurrentMaintenanceException]] BEFORE anything publishes;
    * without the check, the lost-race retry would silently no-op the
    * removal and append `add` anyway — two racing OPTIMIZEs of the
    * same smalls would DOUBLE every row, and an OPTIMIZE racing a
    * packed erasure would RESURRECT the erased victim from its
    * pre-erasure staged bytes. Append-vs-replace stays retryable as
    * before: an append landing mid-race removes nothing, so the retry
    * re-applies cleanly. Every maintenance rewrite commits through
    * [[graft.operators.SinkMaintain.stagedSwap]] or its retire-only
    * half, which surface the refusal — each is a re-runnable operation
    * whose re-plan IS a fresh invocation.
    */
  def replace(dir: String, conf: org.apache.hadoop.conf.Configuration,
      remove: Set[String], add: Seq[Entry]): Snapshot =
    commitLoop(dir, conf) { s =>
      val have = s.entries.iterator.map(_.name).toSet
      val missing = remove.diff(have)
      if (missing.nonEmpty)
        throw new ConcurrentMaintenanceException(
          s"replace against $dir lost to a concurrent maintenance " +
            s"commit: ${missing.size} of ${remove.size} files to " +
            s"replace are no longer in the manifest (v${s.version}); " +
            s"missing: ${missing.take(3).mkString(", ")}" +
            (if (missing.size > 3) ", …" else "") +
            " — re-plan from a fresh snapshot and re-run")
      // the add side must be disjoint from the SURVIVING names too:
      // this builds the snapshot directly (filterNot ++ add) without
      // commit()'s by-name normalization, so an add whose name already
      // exists outside the remove set would duplicate the entry —
      // either a caller staging non-unique names (engine writers are
      // job-UUID-unique) or a concurrent commit that landed the same
      // pack; both are the re-plan case, never a silent double
      val colliding = add.iterator.map(_.name)
        .filter(n => have(n) && !remove(n)).toVector
      if (colliding.nonEmpty)
        throw new ConcurrentMaintenanceException(
          s"replace against $dir would duplicate ${colliding.size} " +
            s"entry name(s) already committed outside its remove set " +
            s"(v${s.version}): ${colliding.take(3).mkString(", ")}" +
            (if (colliding.size > 3) ", …" else "") +
            " — re-plan from a fresh snapshot and re-run")
      Some((Snapshot(s.version + 1,
        s.entries.filterNot(e => remove(e.name)) ++ add, s.epochs),
        Delta(s.version + 1, remove, add.toVector, Vector.empty)))
    }.getOrElse(throw new IllegalStateException("replace commit skipped"))

  /** Best-effort log truncation after committing `committed`: find the
    * newest full snapshot at-or-below the retention horizon and drop
    * everything it supersedes — deltas at-or-below it, fulls below it.
    * Never deletes a delta above the newest such snapshot, so every
    * retained version stays replayable; with no checkpoint yet (young
    * tables, < [[CheckpointEvery]] commits) nothing is dropped and
    * reads replay the whole short log from empty.
    */
  private def gc(fs: FileSystem, dir: String, committed: Long): Unit =
    try {
      val md = manifestDir(dir)
      // under the commit lock: the list-then-delete must not interleave
      // with a publish, or a committer could re-list between our listing
      // and our unlinks and build on files about to vanish
      withDirLock(fs, md) {
        listLog(fs, md).foreach { lv =>
          val retMin = math.max(1L, committed - Retain + 1)
          lv.fulls.map(_._1).filter(_ <= retMin).maxOption.foreach { cp =>
            lv.deltas.filter(_._1 <= cp).foreach(t => fs.delete(t._2, false))
            lv.fulls.filter(_._1 < cp).foreach(t => fs.delete(t._2, false))
          }
        }
      }
    } catch { case _: Exception => () }
}

/** The one reader of equality-delete tombstone FILES — shared by the
  * scan's anti-set load and the purge path so the two consumers of the
  * on-disk format can never drift.
  */
object TombstoneKeys {
  /** Decode every key in the given tombstone files — `(full path,
    * attested bytes)` pairs — dedupe, and unsigned-sort (the
    * binary-search order the reader's probe expects). `cap` bounds the
    * ATTESTED bytes before anything is read — the scan passes its
    * `maxTombstoneBytes`; purge passes None, because purge is the
    * remedy for an over-cap backlog and must be able to drain it.
    */
  def read(files: Seq[(String, Long)],
      conf: org.apache.hadoop.conf.Configuration,
      cap: Option[Long]): Array[Array[Byte]] = {
    if (files.isEmpty) return Array.empty
    cap.foreach { c =>
      val total = files.map(_._2).sum
      if (total > c)
        throw new IllegalStateException(
          s"live equality-delete tombstones hold $total bytes, over the " +
            s"$c cap — run Tombstones.purge on the directory (or raise " +
            "the maxTombstoneBytes scan option)")
    }
    val keys = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    files.foreach { case (f, _) =>
      val p = new Path(f)
      val in = new ZstdInputStream(ProtoZstFiles.fs(p, conf).open(p))
      try keys ++= graft.functions.ProtoWire.keys(in)
      finally in.close()
    }
    keys.distinctBy(_.toSeq).toArray
      .sortWith(java.util.Arrays.compareUnsigned(_, _) < 0)
  }
}

/** Planning-time view of one data file — the ONE thing every
  * proto-zst read plans from: the batch scan, the aggregate pushdown,
  * the micro-batch stream and the task reader (whole-file partitions
  * carry their file's entry, so the truncation guard and the frame seek
  * read `count`/`sorted` from it). Governed roots resolve
  * [[GenManifest.Entry]] to a full path; every other read gets the
  * entry the writer would have committed from [[ManifestIndex.listing]].
  * `count` is −1 when unknown; `min`/`max` are absent when the file has
  * no trusted key range.
  */
final case class FileMeta(path: String, bytes: Long, count: Long,
    sorted: Boolean, min: Option[Array[Byte]], max: Option[Array[Byte]],
    times: Option[(Long, Long)] = None, tomb: Boolean = false)

object ManifestIndex {
  /** The planning view of a scan's roots: the pinned snapshot when
    * `version` is set (strict, see [[loadAt]]), else every root's
    * manifest, else — when ANY root has none — the [[listing]] view of
    * all of them.
    */
  def plan(paths: Seq[String], conf: org.apache.hadoop.conf.Configuration,
      version: Option[Long]): Array[FileMeta] = version match {
    case Some(v) => loadAt(paths.head, conf, v)
    case None => load(paths, conf).getOrElse(listing(paths, conf))
  }

  /** Metas for ALL roots, or None if ANY root lacks a manifest (an
    * explicit-file path or a foreign directory makes the whole scan
    * plan from the [[listing]] view — a partial mix would double-read).
    * A root with the bare [[GenManifest.mark]] marker but no snapshot
    * yet (a sink write in flight before its first commit) contributes
    * ZERO files — governed means the snapshot set is authoritative,
    * and nothing is committed. Sorted by full path, matching the
    * listing view's global order. No data-directory listing, no
    * sidecar open.
    */
  def load(paths: Seq[String],
      conf: org.apache.hadoop.conf.Configuration): Option[Array[FileMeta]] = {
    val per = paths.map { p =>
      GenManifest.read(p, conf).map(metas(p, _)).orElse(
        if (GenManifest.governed(p, conf)) Some(Vector.empty) else None)
    }
    if (per.exists(_.isEmpty)) None
    else Some(per.flatMap(_.get).toArray.distinctBy(_.path).sortBy(_.path))
  }

  /** One snapshot's entries as metas, in manifest (append) order. */
  def metas(root: String, s: GenManifest.Snapshot): Vector[FileMeta] =
    s.entries.map(e =>
      FileMeta(new Path(root, e.name).toString, e.bytes, e.count, e.sorted,
        if (e.hasRange) Some(e.min) else None,
        if (e.hasRange) Some(e.max) else None, e.times, e.tomb))

  /** TIME-TRAVEL planning view: the file set AT a pinned manifest
    * version. STRICT — throws (never falls back to a listing) when the
    * root has no manifest or the version is outside the retained
    * horizon: a listing fallback here would silently plan HEAD under a
    * reader that asked for a specific release.
    */
  def loadAt(root: String, conf: org.apache.hadoop.conf.Configuration,
      version: Long): Array[FileMeta] =
    metas(root, GenManifest.readAt(root, conf, version))
      .toArray.sortBy(_.path)

  /** The LISTING view, for reads whose roots are not all governed
    * directories (foreign dirs, explicit-file loads), de-duplicated and
    * sorted by full path. A file its own directory's manifest commits
    * takes that entry, read as plain data (no tombstone anti-set, no
    * time skip — an explicit load reads exactly the named files), and
    * each directory's manifest is read at most once. A named data file
    * its directory's manifest commits is not even statted — the entry
    * attests its bytes — so maintenance reading governed files by path
    * costs one manifest read per directory, not a listing per file.
    * Every other root is listed once, and every listed file no
    * manifest commits goes through [[fromSidecars]].
    */
  def listing(paths: Seq[String],
      conf: org.apache.hadoop.conf.Configuration): Array[FileMeta] = {
    val manifests = scala.collection.mutable.Map.empty[String, Map[String, FileMeta]]
    def committed(dir: String): Map[String, FileMeta] =
      manifests.getOrElseUpdate(dir, GenManifest.read(dir, conf).toSeq
        .flatMap(metas(dir, _))
        .map(m => m.path -> m.copy(times = None, tomb = false)).toMap)
    def parent(f: String): String = new Path(f).getParent.toString
    val qualified = paths.map { p =>
      val path = new Path(p)
      ProtoZstFiles.fs(path, conf).makeQualified(path).toString
    }.distinct
    val (named, roots) = qualified.partition(p =>
      p.endsWith(".proto.zst") && committed(parent(p)).contains(p))
    val (known, rest) = roots.flatMap(ProtoZstFiles.listWithSizes(_, conf))
      .distinctBy(_._1).partition(f => committed(parent(f._1)).contains(f._1))
    ((named ++ known.map(_._1)).map(f => committed(parent(f))(f)) ++
      fromSidecars(rest, conf)).toArray.distinctBy(_.path).sortBy(_.path)
  }

  /** The entry the writer would have committed for each listed
    * `(path, bytes)`, from one [[FileIndex]] read per file. No readable
    * index: count −1, unsorted, no range. An empty min is no range —
    * the manifest's [[GenManifest.Entry.hasRange]] convention. No
    * times, no tombstones.
    */
  def fromSidecars(files: Seq[(String, Long)],
      conf: org.apache.hadoop.conf.Configuration): Array[FileMeta] =
    files.map { case (f, bytes) =>
      val p = new Path(f)
      MetaIO.sidecarReads.incrementAndGet()
      FileIndex.read(ProtoZstFiles.fs(p, conf), p) match {
        case Some(i) =>
          val ranged = i.min.nonEmpty
          FileMeta(f, bytes, i.count, i.sorted,
            Option.when(ranged)(i.min), Option.when(ranged)(i.max))
        case None => FileMeta(f, bytes, -1L, sorted = false, None, None)
      }
    }.toArray

  /** Drop metas whose recorded key range provably misses the pushed
    * predicate; range-less files always scan.
    */
  def skipByRange(metas: Array[FileMeta],
      filters: Array[org.apache.spark.sql.sources.Filter]): Array[FileMeta] =
    if (filters.isEmpty || metas.isEmpty) metas
    else {
      val couldMatch = KeyPredicate.compileRange(filters)
      metas.filter(m => (m.min, m.max) match {
        case (Some(mn), Some(mx)) => couldMatch(mn, mx)
        case _ => true
      })
    }

  /** Drop metas whose recorded CELL write-time range provably misses
    * the closed µs window [lo, hi] — the temporal twin of
    * [[skipByRange]], and the move Cassandra makes when a read carries
    * a timestamp bound (skip whole SSTables from the Statistics
    * sidecar's min/max timestamp). Metas without time stats (legacy
    * manifests; files holding only cell-less rows; the listing view)
    * always scan — absence degrades to reading, never to skipping.
    */
  def skipByTime(metas: Array[FileMeta], lo: Long, hi: Long): Array[FileMeta] =
    metas.filter(_.times.forall { case (mn, mx) => mx >= lo && mn <= hi })
}
