package graft.sources

import java.io.{ByteArrayInputStream, File, FileInputStream, FileOutputStream}
import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import com.github.luben.zstd.{ZstdInputStream, ZstdOutputStream}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.functions.ProtoWire

/** The proto-zst MICRO-BATCH STREAM: positional file offsets over the
  * manifest (or listing) order, parquet-file-source-parity admission
  * control (`maxFilesPerTrigger`, soft-max `maxBytesPerTrigger`,
  * `startingWriteTimeUs`), and the shrank-directory guards that refuse
  * loudly when maintenance rewrites a tailed source. Each batch plans
  * from [[FileMeta]] like the batch scan — snapshot entries in
  * manifest mode, the listing view of the batch's slice otherwise —
  * and hands the same partitions to the same task reader. Split from
  * `ProtoZstSource.scala` along the batch/stream seam; the scan,
  * predicate, and reader machinery stay there.
  */
case class ProtoZstOffset(n: Int)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json: String = n.toString
}

/** Streaming read of a proto-zst directory: each micro-batch delivers
  * the files that appeared since the previous offset, one partition per
  * file (the same unit of work as the batch scan — and as the
  * reference's per-file pipeline).
  *
  * Offset semantics: when the directory has a generation manifest, the
  * offset is a position in the manifest's APPEND-ORDERED entry list.
  * That prefix is immutable under appends — entries land in commit
  * order, each job's files in ONE atomic version — so out-of-order
  * task commits can never re-sort already-delivered positions, and
  * aborted jobs can never shrink them (their files never enter the
  * manifest at all). A manifest that SHRINKS mid-stream (OPTIMIZE /
  * erasure on a live-tailed dir) fails loudly rather than delivering
  * wrong files. Manifest-less (foreign/legacy) directories keep the
  * sorted-listing positions, which assume files are only ever added
  * and that the sorted prefix is stable — a production source for
  * foreign dirs would track seen paths in the checkpoint the way
  * FileStreamSource does, at the cost of offsets growing with
  * history.
  */
class ProtoZstMicroBatchStream(path: String, ignoreCorrupt: Boolean,
    readSchema: StructType,
    filters: Array[org.apache.spark.sql.sources.Filter],
    maxFilesPerTrigger: Option[Int] = None,
    startingWriteTimeUs: Option[Long] = None,
    maxBytesPerTrigger: Option[Long] = None,
    conf: SerializableHadoopConf =
      new SerializableHadoopConf(ProtoZstFiles.hadoopConf()))
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit, ReadMaxFiles}

  // Offset MODE: manifest-ordered when the directory is manifest-
  // GOVERNED (a committed snapshot, or the bare marker the writer
  // creates driver-side BEFORE any task lands a data file),
  // sorted-listing otherwise. A governed-but-uncommitted directory
  // reads as EMPTY — task-committed files of an in-flight (possibly
  // later aborted) job are invisible until the job's one atomic
  // manifest commit, exactly like the batch scan. A stream opened on
  // a sink dir before even the marker exists (writer not started)
  // begins in listing mode over an empty listing; each listing-mode
  // poll RE-PROBES and switches the moment the directory becomes
  // governed — but only while NO listing position is load-bearing:
  // nothing planned AND no offset issued to the offset log (for a
  // sink dir that is always the case: the marker precedes the first
  // data file). A manifest appearing after listing offsets became
  // load-bearing (a foreign dir retrofitted mid-stream) has no sound
  // offset mapping — listing positions are sorted-by-name, manifest
  // positions append-ordered — so that fails loudly instead of
  // silently re-numbering delivered files.
  // Once in manifest mode the stream never leaves it. (Across a
  // RESTART the checkpoint's ints can't say which mode numbered them;
  // the first poll re-pins by governance, which is correct for every
  // this-sink lifecycle — the marker exists from the first write on —
  // and remains the documented limit for foreign dirs retrofitted
  // between runs.)
  private object Mode { val Undecided = 0; val Manifest = 1; val Listing = 2 }
  @volatile private var mode = Mode.Undecided
  // listing positions that are LOAD-BEARING: the max of files already
  // planned AND offsets already issued to the engine's offset log
  // while in listing mode — a switch past either must refuse (an
  // issued-but-not-yet-planned offset would otherwise be replayed
  // against manifest-append order, silently renumbering the batch)
  @volatile private var listedDeliveries = 0
  @volatile private var listedIssued = 0
  // a governed dir whose snapshots ALL disappear after one was read is
  // an anomaly (gc never removes the newest); before the first commit
  // an empty snapshot set is the normal in-flight-write state
  @volatile private var sawSnapshot = false
  /** One [[FileMeta]] per file in offset order. Manifest mode: the
    * snapshot's entries, with their ranges and times. Listing mode:
    * path and bytes from the listing's own FileStatus, nothing else —
    * a poll opens no sidecar; [[planInputPartitions]] builds the
    * listing view for the planned slice only. Bytes come FREE in both
    * modes, so byte-budget admission never adds a metadata round-trip.
    * Tombstone entries KEEP their offset positions (an appended
    * tombstone must not renumber the feed) but are never delivered as
    * data — see [[planInputPartitions]]. The stream is the append LOG
    * of the directory: logical deletes do not retract already-appended
    * rows (Delta-CDF semantics); a physical purge on a tailed source
    * trips the shrank-directory guard, as all file-rewriting
    * maintenance does.
    */
  private def currentMetas(): Seq[FileMeta] = {
    mode match {
      // governed() is ONE exists() probe — the listing-mode poll never
      // pays a manifest read until the directory actually becomes
      // governed (foreign dirs would otherwise pay listStatus of a
      // nonexistent manifest dir on every trigger, forever)
      case Mode.Undecided =>
        mode = if (GenManifest.governed(path, conf.value)) Mode.Manifest
          else Mode.Listing
      case Mode.Listing if GenManifest.governed(path, conf.value) =>
        val pinned = math.max(listedDeliveries, listedIssued)
        if (pinned > 0)
          throw new IllegalStateException(
            s"$path gained a manifest after $pinned sorted-listing " +
              "offsets became load-bearing; the two orderings are " +
              "incompatible — restart the stream from a fresh " +
              "checkpoint to adopt manifest offsets")
        mode = Mode.Manifest
      case _ => ()
    }
    if (mode == Mode.Manifest) GenManifest.read(path, conf.value) match {
      case Some(s) =>
        sawSnapshot = true
        ManifestIndex.metas(path, s)
      case None if !sawSnapshot => Seq.empty // governed, nothing committed yet
      case None => throw new IllegalStateException(
        s"manifest for $path vanished mid-stream")
    }
    else ProtoZstFiles.listWithSizes(path, conf.value).toSeq.map {
      case (p, b) => FileMeta(p, b, -1L, sorted = false, None, None)
    }
  }

  /** Admission control (parquet file-source parity): with
    * `maxFilesPerTrigger` set, each micro-batch admits at most that
    * many NEW files — ingest backpressure for a directory that
    * accumulates faster than one batch should swallow. Under
    * `Trigger.AvailableNow` the target end offset is FIXED at prepare
    * time, so a rate-limited run processes exactly the files present
    * at start across ceil(n/limit) batches and then terminates, even
    * while new files keep landing (they belong to the next run).
    */
  @volatile private var fixedEnd: Option[Int] = None
  override def prepareForTriggerAvailableNow(): Unit =
    fixedEnd = Some(currentMetas().length)
  private def available(): Int =
    fixedEnd.getOrElse(currentMetas().length)

  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(n => ReadLimit.maxFiles(n))
      .getOrElse(ReadLimit.allAvailable())
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[ProtoZstOffset].n
    // byte-budget admission (Delta's maxBytesPerTrigger convention — a
    // SOFT max): admit whole files while the running total is still
    // under budget, so the file that CROSSES the budget flows in the
    // same batch and a single over-budget file can never stall the
    // stream. Composes with maxFilesPerTrigger (whichever cap bites
    // first). Sizes cost nothing — manifest bytes or the listing's own
    // FileStatus — and ONE metadata snapshot serves both the total and
    // the budget walk: a poll costs one round-trip, and the
    // shrank-directory guard judges a single consistent view instead
    // of spanning two reads.
    val end = maxBytesPerTrigger match {
      case None =>
        val total = available()
        limit match {
          case mf: ReadMaxFiles => math.min(total, s + mf.maxFiles())
          case _ => total
        }
      case Some(budget) =>
        val sizes = currentMetas()
        val total = fixedEnd.getOrElse(sizes.length)
        val byCount = limit match {
          case mf: ReadMaxFiles => math.min(total, s + mf.maxFiles())
          case _ => total
        }
        // an AvailableNow run's fixed end can outrun a directory that
        // shrank mid-run (expiry/OPTIMIZE on a tailed source): raise
        // the planner's loud contract here rather than an index crash
        // or — worse — a silent cap that would hide the shrink
        if (byCount > sizes.length)
          throw new IllegalStateException(
            s"$path shrank under a live stream (${sizes.length} < " +
              s"$byCount): OPTIMIZE/erasure/expiry on a tailed " +
              "directory invalidates delivered offsets — stop the " +
              "stream before compacting its source")
        // budget is validated positive at scan build, so acc = 0 always
        // admits the first new file — the at-least-one rule for free
        var e = s
        var acc = 0L
        while (e < byCount && acc < budget) {
          acc += sizes(e).bytes
          e += 1
        }
        e
    }
    // the engine will log this offset: listing positions up to it are
    // now load-bearing even before any partition is planned
    if (mode == Mode.Listing && end > listedIssued) listedIssued = end
    ProtoZstOffset(end)
  }
  override def reportLatestOffset(): Offset = ProtoZstOffset(available())

  /** First-start position. With `startingWriteTimeUs` set, the longest
    * manifest-order prefix of files PROVABLY older than the instant
    * (recorded max cell time < T) is skipped — Kafka's
    * `startingTimestamp` for a sink directory: tail from the live edge
    * without replaying the backlog. The cut stops at the first file it
    * cannot prove old (time-less entry, or a range reaching T), so it
    * is conservative: it may replay extra, never skip live data. The
    * prefix cut keeps offset arithmetic untouched — later polls still
    * count every file. Listing-mode metas carry no times, so a foreign
    * directory starts at 0. Only called when no checkpointed offset
    * exists; restarts resume from the checkpoint, as they must.
    */
  override def initialOffset(): Offset = ProtoZstOffset(
    startingWriteTimeUs.fold(0) { t =>
      currentMetas().iterator.takeWhile(_.times.exists(_._2 < t)).length
    })
  override def latestOffset(): Offset = {
    val n = currentMetas().length
    if (mode == Mode.Listing && n > listedIssued) listedIssued = n
    ProtoZstOffset(n)
  }
  override def deserializeOffset(json: String): Offset =
    ProtoZstOffset(json.trim.toInt)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
  // range skip applies AFTER the positional slice, so offsets keep
  // counting every file regardless of the predicate; listing mode
  // builds the listing view for the slice alone (one sidecar read per
  // planned file, none per poll)
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val endN = end.asInstanceOf[ProtoZstOffset].n
    val metas = currentMetas()
    if (mode == Mode.Listing && endN > listedDeliveries)
      listedDeliveries = endN
    if (metas.length < endN)
      throw new IllegalStateException(
        s"$path shrank under a live stream (${metas.length} < $endN): " +
          "OPTIMIZE/erasure on a tailed directory invalidates delivered " +
          "offsets — stop the stream before compacting its source")
    // tombstone entries hold deleted KEYS, not rows: they keep their
    // positional slot (offset arithmetic counts every entry) but plan
    // no partition — the feed stays an append log of data files
    val slice = metas.slice(start.asInstanceOf[ProtoZstOffset].n, endN)
      .filterNot(_.tomb)
    val planned =
      if (mode == Mode.Listing)
        ManifestIndex.fromSidecars(slice.map(m => (m.path, m.bytes)), conf.value)
      else slice.toArray
    ManifestIndex.skipByRange(planned, filters)
      .map(ProtoZstInputPartition(_): InputPartition)
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new ProtoZstReaderFactory(ignoreCorrupt, readSchema, filters, conf)
}

/** Compile the pushable subset of Spark's v1 `Filter`s over the `key`
  * column into a predicate on raw key bytes (unsigned lexicographic
  * order — BinaryType's ordering on both engines).
  */
