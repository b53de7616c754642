package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import com.github.luben.zstd.ZstdInputStream
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.functions.ProtoWire

/** DataSource V2 reader for the engine's own sink format: directories
  * of `*.proto.zst` files holding varint-framed proto3 `Row{key,
  * repeated Column{name, value, writeTime}}` messages (the reference's
  * output, `Runner.java:114-145` + `sstable.proto`). This is the §4.3
  * "custom source" path: one input partition PER FILE — reproducing the
  * reference's per-file unit of work (O1) and preserving within-file
  * row order, so a downstream per-key nest over a key-sorted file needs
  * no shuffle — except that a file larger than
  * `spark.sql.files.maxPartitionBytes` reads as frame-aligned slices,
  * each in file order.
  *
  * Usage: `spark.read.format("proto-zst").load(dir)`.
  */
class ProtoZstDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "proto-zst"
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ProtoZstTable.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    // `load(dir)` arrives as "path"; `load(p1, p2, ...)` as a "paths"
    // JSON array (the DataFrameReader multi-path contract) — the latter
    // is what metadata-planned maintenance (q77's small-file optimize)
    // uses to read an explicit file subset
    val paths: Seq[String] = Option(properties.get("path")).map(Seq(_))
      .orElse(Option(properties.get("paths")).map { js =>
        new com.fasterxml.jackson.databind.ObjectMapper()
          .readValue(js, classOf[Array[String]]).toSeq
      }).getOrElse(Seq.empty)
    // honor a bucketed directory's layout even through the path-based
    // API (writes keep bucketing); only the CATALOG path may also
    // REPORT the partitioning, because only it carries the
    // FunctionCatalog that lets Catalyst resolve the bucket transform.
    // A multi-path read never reports a joint layout. The spec is read
    // with the conf the scan or write builder builds anyway, so a
    // `load()` builds no conf of its own.
    val bucketsIn: org.apache.hadoop.conf.Configuration => Option[Int] =
      paths match {
        case Seq(only) => GraftBucket.readSpec(only, _)
        case _ => _ => None
      }
    new ProtoZstTable(paths, bucketsIn, viaCatalog = false)
  }
}

/** Crash injection around the streaming epoch commit — the
  * exactly-once specs (PipelineSpec's q208 crash-restart rows) throw
  * from these to simulate a driver dying immediately BEFORE the
  * manifest epoch commit (batch replayed wholesale on restart) and
  * immediately AFTER it (replay detected, duplicate files rolled
  * back, published files spared). No-ops outside tests; volatile so
  * the spec's arm/disarm is visible to the stream's commit thread.
  */
private[graft] object EpochCommitHooks {
  @volatile var beforeCommit: Long => Unit = _ => ()
  @volatile var afterCommit: Long => Unit = _ => ()
  def reset(): Unit = { beforeCommit = _ => (); afterCommit = _ => () }
}

object ProtoZstTable {
  /** The sink's logical schema — §1.4's nested Row representation. */
  val Schema: StructType = StructType(Seq(
    StructField("key", BinaryType),
    StructField("columns", ArrayType(StructType(Seq(
      StructField("name", BinaryType),
      StructField("value", BinaryType),
      StructField("write_time", LongType)))))))
}

/** `bucketsIn` resolves the directory's bucket count (None =
  * unbucketed) with a Hadoop conf the caller already holds.
  */
class ProtoZstTable(paths: Seq[String],
    bucketsIn: org.apache.hadoop.conf.Configuration => Option[Int] = _ => None,
    viaCatalog: Boolean = false) extends Table
    with SupportsRead with SupportsWrite {
  def this(path: String, buckets: Option[Int], viaCatalog: Boolean) =
    this(Seq(path), _ => buckets, viaCatalog)
  override def name(): String = s"proto-zst(${paths.mkString(",")})"
  override def schema(): StructType = ProtoZstTable.Schema
  override def partitioning(): Array[Transform] =
    bucketsIn(ProtoZstFiles.hadoopConf()).map(n =>
      org.apache.spark.sql.connector.expressions.Expressions.bucket(n, "key"))
      .toArray
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.STREAMING_WRITE,
      TableCapability.MICRO_BATCH_READ).asJava

  /** Write side (batch + streaming): each task writes one zstd file of
    * varint-framed Row messages — encode happens IN the writer, so
    * callers hand over the nested (key, columns) rows directly:
    * `nested.write.format("proto-zst").save(dir)`. Task commit is
    * write-to-tmp + rename (atomic on a local/posix fs; a cluster
    * deployment points this at a committer-backed FS). One file per
    * (epoch, partition, task) keeps the sink embarrassingly parallel —
    * the scalable restatement of the reference's single fold stream
    * (`Runner.java:75-82`).
    */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    if (paths.length != 1)
      throw new UnsupportedOperationException(
        s"proto-zst write needs exactly one target directory, got $paths")
    val dir = paths.head
    // the builder's one conf: the bucket spec, the manifest commits and
    // the rollback all run on the driver
    val conf = ProtoZstFiles.hadoopConf()
    // a job-level abort rolls back the tasks that DID commit (their
    // tmp→final renames) so a retried job can't double-count rows;
    // runs on the driver, where the session conf is at hand.
    // PUBLISHED files are spared: a failure thrown AFTER the manifest
    // commit (a driver dying between our epoch commit and Spark's own
    // commit log surfaces as commit() throwing, which routes Spark
    // here) must not delete files the committed — authoritative —
    // entry set references, or the manifest would point at holes.
    // Replay duplicates and genuinely-uncommitted task output carry
    // fresh job-UUID names the manifest has never seen, so they go.
    def rollback(msgs: Array[WriterCommitMessage]): Unit = {
      val dirPath = new org.apache.hadoop.fs.Path(dir)
      val fs = ProtoZstFiles.fs(dirPath, conf)
      val published: Set[String] = GenManifest.read(dir, conf)
        .map(_.entries.iterator.map(_.name).toSet).getOrElse(Set.empty)
      msgs.foreach {
        case c: ProtoZstCommit => c.files.filterNot(published).foreach { f =>
          val data = new org.apache.hadoop.fs.Path(dirPath, f)
          fs.delete(data, false)
          FileIndex.delete(fs, data)
        }
        case _ => ()
      }
    }
    // driver-side job/epoch commit: fold every task's entries into the
    // generation manifest as ONE atomic version bump — the point after
    // which (and only after which) manifest readers see the new files
    def publish(msgs: Array[WriterCommitMessage]): Unit = {
      val entries = msgs.flatMap {
        case c: ProtoZstCommit => c.entries
        case _ => Seq.empty
      }
      if (entries.nonEmpty) {
        GenManifest.append(dir, conf,
          entries.toIndexedSeq)
        ()
      }
    }
    // Streaming epoch commit must be IDEMPOTENT (the StreamingWrite
    // contract): a driver failure between our manifest commit and
    // Spark's own commit log replays the micro-batch, whose retried
    // tasks wrote a second set of files for the same data. The
    // committed (query, epoch) key rides inside the manifest snapshot,
    // so the duplicate commit is detected atomically and the replay's
    // files are deleted instead of published.
    val streamQueryId = info.queryId()
    def publishEpoch(epochId: Long,
        msgs: Array[WriterCommitMessage]): Unit = {
      val entries = msgs.flatMap {
        case c: ProtoZstCommit => c.entries
        case _ => Seq.empty
      }
      if (entries.nonEmpty) {
        EpochCommitHooks.beforeCommit(epochId)
        if (GenManifest.appendEpoch(dir, conf,
            s"$streamQueryId/$epochId", entries.toIndexedSeq).isEmpty)
          rollback(msgs)
        else EpochCommitHooks.afterCommit(epochId)
      }
    }
    val bucketSpec = bucketsIn(conf)
    // partitioned-export mode: roll a new file per key-prefix group
    // (see ProtoZstWriterFactory.splitPrefix); a bucketed directory's
    // layout wins if both are somehow set
    val splitPrefix = Option(info.options.get("splitKeyPrefix")).map(_.toInt)
      .filter(_ => bucketSpec.isEmpty)
    val frameRows = Option(info.options.get("splitFrameRows")).map(_.toInt)
      .getOrElse(ProtoZstWriterFactory.DefaultSplitFrameRows)
    new WriteBuilder {
      // Factory creation runs on the DRIVER before any task starts:
      // marking here makes the directory manifest-governed BEFORE the
      // first data file can appear, so readers racing the job plan
      // from snapshots (empty until the first commit) instead of
      // listing not-yet-published task files.
      private def batchWrite: BatchWrite = new BatchWrite {
        override def createBatchWriterFactory(p: PhysicalWriteInfo): DataWriterFactory = {
          GenManifest.mark(dir, conf)
          new ProtoZstWriterFactory(dir, bucketSpec, splitPrefix, frameRows)
        }
        override def commit(msgs: Array[WriterCommitMessage]): Unit =
          publish(msgs)
        override def abort(msgs: Array[WriterCommitMessage]): Unit =
          rollback(msgs)
      }
      private def streamingWrite: StreamingWrite = new StreamingWrite {
        override def createStreamingWriterFactory(p: PhysicalWriteInfo): StreamingDataWriterFactory = {
          GenManifest.mark(dir, conf)
          new ProtoZstWriterFactory(dir, bucketSpec, splitPrefix, frameRows)
        }
        override def commit(epochId: Long, msgs: Array[WriterCommitMessage]): Unit =
          publishEpoch(epochId, msgs)
        override def abort(epochId: Long, msgs: Array[WriterCommitMessage]): Unit =
          rollback(msgs)
      }
      override def build(): Write = bucketSpec match {
        // catalog-path bucketed write: ask Spark to cluster incoming
        // rows by the V2 bucket function (ONE exchange of exactly
        // `buckets` partitions) and key-sort within each, so every task
        // writes whole buckets of key-sorted rows — the layout the
        // scan's reported partitioning and indexes describe.
        // Resolving the transform needs the FunctionCatalog, hence
        // catalog path only; path-based writes still bucket per row in
        // the writer, just without the planner-enforced clustering.
        case Some(n) if viaCatalog =>
          import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
          import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
          new Write with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
            override def requiredDistribution(): Distribution =
              Distributions.clustered(Array(Expressions.bucket(n, "key")))
            override def requiredNumPartitions(): Int = n
            override def requiredOrdering(): Array[SortOrder] =
              Array(Expressions.sort(Expressions.column("key"),
                SortDirection.ASCENDING))
            override def toBatch: BatchWrite = batchWrite
            override def toStreaming: StreamingWrite = streamingWrite
          }
        case _ => new Write {
          override def toBatch: BatchWrite = batchWrite
          override def toStreaming: StreamingWrite = streamingWrite
        }
      }
    }
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ProtoZstScanBuilder(paths, options, bucketsIn, viaCatalog)
}

/** Scan builder with the two §4.3 optimizations the reference gets from
  * its index files: key-predicate pushdown (the index-summary seek,
  * `SSTableScannerPatched.java:56-93` — here: a kept/dropped decision on
  * the key bytes alone, columns never decoded for dropped frames) and
  * column pruning (a key-only projection skips Column decode entirely).
  * Partition sizing takes no option of its own: a file the scan reads
  * whole is cut at its recorded frame boundaries into slices of at
  * least `spark.sql.files.maxPartitionBytes`, the setting Spark's file
  * sources split by.
  */
class ProtoZstScanBuilder(paths: Seq[String], options: CaseInsensitiveStringMap,
    bucketsIn: org.apache.hadoop.conf.Configuration => Option[Int] = _ => None,
    viaCatalog: Boolean = false)
    extends ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {
  // O15 analog (`markSuspect`, `SSTableReaderPatched.java:248-253`):
  // with ignoreCorrupt=true a file whose tail fails to decode yields
  // its valid prefix instead of failing the task.
  private val ignoreCorrupt = options.getBoolean("ignoreCorrupt", false)
  // streaming admission control: cap files per micro-batch (parquet
  // file-source parity); 0/absent = unlimited
  private val maxFilesPerTrigger: Option[Int] =
    Option(options.get("maxFilesPerTrigger")).map { v =>
      val n = v.toInt
      require(n > 0, s"maxFilesPerTrigger must be positive, got $n")
      n
    }
  // byte-denominated backpressure twin (Delta parity — a soft max):
  // whole files are admitted until their attested sizes reach the
  // budget, the crossing file included, always at least one
  private val maxBytesPerTrigger: Option[Long] =
    Option(options.get("maxBytesPerTrigger")).map { v =>
      val n = v.toLong
      require(n > 0, s"maxBytesPerTrigger must be positive, got $n")
      n
    }
  /** Temporal file skip, opt-in: a CLOSED µs window over CELL write
    * times. A manifest-governed scan drops whole files whose recorded
    * time range provably misses the window ([[ManifestIndex
    * .skipByTime]]) — Cassandra's SSTable-level min/max-timestamp skip.
    * CONTRACT: the caller asserts it only cares about cells written
    * inside the window; rows of skipped files (including their
    * cell-less rows) do not appear, and KEPT files still return ALL
    * their rows — the row-level predicate stays the query's job, this
    * option only prunes I/O. Listing-path scans (foreign dirs,
    * explicit files) and legacy manifests have no time stats and read
    * everything — absence degrades to reading.
    */
  private val timeBounds: Option[(Long, Long)] = {
    val lo = Option(options.get("minWriteTimeUs")).map(_.toLong)
    val hi = Option(options.get("maxWriteTimeUs")).map(_.toLong)
    if (lo.isEmpty && hi.isEmpty) None
    else {
      val b = (lo.getOrElse(Long.MinValue), hi.getOrElse(Long.MaxValue))
      require(b._1 <= b._2,
        s"empty write-time window: minWriteTimeUs ${b._1} > maxWriteTimeUs ${b._2}")
      Some(b)
    }
  }
  /** Streaming start cut (Kafka's `startingTimestamp` analog): on the
    * FIRST start of a stream (no checkpointed offset), skip the
    * longest manifest-order PREFIX of files whose recorded time range
    * is provably entirely older than this µs instant — a tail-read of
    * a long-lived sink directory starts at the live edge instead of
    * replaying the whole backlog. Prefix-only, so offset arithmetic is
    * untouched; the cut stops at the first file that cannot be proven
    * old (no time stats, or a range reaching the instant). Listing-
    * mode (foreign) directories have no attested times and start at 0.
    */
  private val startingWriteTimeUs: Option[Long] =
    Option(options.get("startingWriteTimeUs")).map(_.toLong)
  /** TIME TRAVEL, opt-in: plan the scan from the manifest snapshot at
    * this pinned version instead of HEAD — the "read release N"
    * primitive (Delta's `versionAsOf`). Strict by design: requires ONE
    * manifest-governed root (each root numbers its own versions — a
    * multi-root pin would be ambiguous) and a RETAINED version; any
    * miss throws at plan time rather than silently answering from HEAD
    * or a listing. Valid across append-only commits (the export /
    * streaming-sink history); file-rewriting maintenance (OPTIMIZE,
    * erasure) deletes replaced originals immediately — erasure must be
    * irreversible — so a pin older than such a commit fails at read.
    */
  private val manifestVersion: Option[Long] =
    Option(options.get("manifestVersion")).map { v =>
      val n = v.toLong
      require(n >= 1, s"manifestVersion must be a committed version >= 1, got $n")
      require(paths.size == 1,
        s"manifestVersion pins ONE directory's snapshot; got ${paths.size} roots")
      n
    }
  /** Ceiling on the LIVE equality-delete tombstone bytes a scan will
    * load driver-side (the anti-set ships to every task with the
    * reader factory). Crossing it fails loudly with "run purge" —
    * tombstones are a between-purges buffer, bounded by maintenance
    * cadence, never an unbounded accumulator; a cap keeps that
    * contract mechanical instead of aspirational.
    */
  private val maxTombstoneBytes: Long =
    Option(options.get("maxTombstoneBytes")).map { v =>
      val n = v.toLong
      require(n > 0, s"maxTombstoneBytes must be positive, got $n")
      n
    }.getOrElse(ProtoZstScan.DefaultMaxTombstoneBytes)
  private var required: StructType = ProtoZstTable.Schema
  private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  private var aggregated: Option[(StructType, Array[Any], String)] = None
  // the pushdown and the scan plan from the same view, loaded at most
  // once per builder
  private val view = new FileView(paths, manifestVersion)

  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    pushed = filters.filter(KeyPredicate.supported)
    // every reader applies the pushed predicates EXACTLY in its keep
    // gate (`KeyPredicate.compile`), so only the rest are re-evaluated
    // post-scan — a Filter above a local scan would launch a job again
    filters.filterNot(KeyPredicate.supported)
  }
  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Statistics pushdown from the [[FileView]]: an ungrouped,
    * unfiltered COUNT(*)/MIN(key)/MAX(key) is answered at PLAN time
    * from metadata every sink task already wrote at commit — the whole
    * scan collapses to one precomputed row; no file is opened, no
    * frame decompressed. The engine analog of answering `count()` from
    * parquet footers, and of the reference's Statistics.db (row counts
    * and key bounds kept beside the data,
    * `SSTableReaderPatched.java:221-233`). Any file without a count
    * (a listed file with no readable index) vetoes the pushdown and
    * the scan proceeds normally — metadata absence degrades, never
    * lies.
    */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = timeBounds.isEmpty && translate(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean =
    // a time-bounded scan must NOT collapse to whole-corpus file
    // stats: the pushed COUNT/MIN/MAX would cover pruned files' rows
    if (timeBounds.isDefined) false
    else translate(agg) match {
      case Some(v) => aggregated = Some(v); true
      case None => false
    }

  // Spark calls supportCompletePushDown then pushAggregation with the
  // same Aggregation; both read the builder's one view, so translating
  // twice costs no metadata I/O
  private def translate(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Array[Any], String)] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    def isKey(e: org.apache.spark.sql.connector.expressions.Expression): Boolean =
      e match {
        case r: NamedReference => r.fieldNames.sameElements(Array("key"))
        case _ => false
      }
    val funcs = agg.aggregateExpressions
    val describable = agg.groupByExpressions.isEmpty && pushed.isEmpty &&
      funcs.nonEmpty && funcs.forall {
        case _: CountStar => true
        case m: Min => isKey(m.column)
        case m: Max => isKey(m.column)
        case _ => false
      }
    // MIN/MAX need every file's range: a range-less meta (no trusted
    // range, or a file whose true min is the EMPTY key, which
    // hex-encodes to the no-range sentinel) could hold the global
    // minimum, so its presence vetoes min/max pushdown; COUNT(*) only
    // needs counts and survives.
    val needRange = funcs.exists {
      case _: Min | _: Max => true
      case _ => false
    }
    // live equality-delete tombstones veto EVERY complete pushdown: the
    // recorded per-file stats count rows the tombstones logically
    // deleted (and how many they matched is unknowable without reading
    // — keys may be absent or repeat), so an answered COUNT/MIN/MAX
    // could be wrong. Purge restores the pushdown. A pinned version
    // answers from THAT snapshot's stats.
    lazy val metas = view.metas
    if (!describable || metas.exists(m => m.tomb || m.count < 0L) ||
        (needRange && metas.exists(_.min.isEmpty))) None
    else {
      val ord = (a: Array[Byte], b: Array[Byte]) =>
        java.util.Arrays.compareUnsigned(a, b)
      val mins = metas.flatMap(_.min)
      val maxs = metas.flatMap(_.max)
      val mn = if (mins.isEmpty) null else mins.reduce((a, b) => if (ord(a, b) <= 0) a else b)
      val mx = if (maxs.isEmpty) null else maxs.reduce((a, b) => if (ord(a, b) >= 0) a else b)
      val fields = funcs.map {
        case _: CountStar => StructField("count(*)", LongType, nullable = false)
        case _: Min => StructField("min(key)", BinaryType)
        case _: Max => StructField("max(key)", BinaryType)
      }
      val values = funcs.map[Any] {
        case _: CountStar => metas.map(_.count).sum
        case _: Min => mn
        case _: Max => mx
      }
      Some((StructType(fields), values, funcs.map(_.toString).mkString(", ")))
    }
  }

  override def build(): Scan = aggregated match {
    case Some((schema, values, desc)) =>
      new ProtoZstAggScan(paths.mkString(","), schema, values, desc)
    case None =>
      val scan = new ProtoZstScan(view, ignoreCorrupt, required, pushed,
        bucketsIn(view.conf.value), viaCatalog, maxFilesPerTrigger, timeBounds,
        startingWriteTimeUs, maxBytesPerTrigger, maxTombstoneBytes)
      // a point lookup that reads at most one frame is answered on the
      // driver: Catalyst plans a LocalTableScanExec and runs no job
      scan.localRead.fold[Scan](scan)(new ProtoZstLocalScan(scan, _))
  }
}

/** A point lookup small enough to answer without a Spark job: the
  * scan's planned partitions (nothing, or one frame segment)
  * decoded on the driver by the same reader a task would run — same
  * tombstone anti-set, pinned snapshot, write-time window and
  * `ignoreCorrupt` handling.
  */
final class ProtoZstLocalScan(scan: ProtoZstScan, parts: Array[InputPartition])
    extends org.apache.spark.sql.connector.read.LocalScan
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {
  override def readSchema(): StructType = scan.readSchema
  override def description(): String = s"${scan.description()}, Local"
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = scan.estimateStatistics()
  override def rows(): Array[InternalRow] =
    // nothing planned reads nothing: the factory would decode every live
    // tombstone file into the anti-set first
    if (parts.isEmpty) Array.empty
    else {
      val factory = scan.createReaderFactory()
      parts.flatMap { p =>
        val r = factory.createReader(p)
        try Iterator.continually(r.next()).takeWhile(identity)
          .map(_ => r.get().copy()).toArray
        finally r.close()
      }
    }
}

/** The collapsed scan a completely-pushed aggregation builds: one
  * partition, one row, values precomputed on the driver from the
  * builder's [[FileView]]. readSchema fields are positional per the
  * pushed `Aggregation`'s function list.
  */
class ProtoZstAggScan(path: String, schema: StructType,
    values: Array[Any], pushedDesc: String) extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String =
    s"proto-zst($path) PushedAggregation: [$pushedDesc]"
  override def planInputPartitions(): Array[InputPartition] =
    Array(ProtoZstAggPartition(values))
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private var done = false
          private val row = new GenericInternalRow(
            p.asInstanceOf[ProtoZstAggPartition].values)
          override def next(): Boolean = if (done) false else { done = true; true }
          override def get(): InternalRow = row
          override def close(): Unit = ()
        }
    }
}

case class ProtoZstAggPartition(values: Array[Any]) extends InputPartition

/** Java-serializable wrapper for a Hadoop `Configuration` (which is
  * `Writable` but not `Serializable`) — lets driver-built reader/writer
  * factories carry the session's fs.* settings to executors. The
  * standard connector pattern (Spark's own utility is `private[spark]`).
  * Ships the raw (key, value) pairs of `Configuration.iterator()` as one
  * byte blob and `set`s them back — what `readFields` does too, without
  * `Configuration.write`'s per-property gzipped provenance. Every task
  * deserializes its reader factory, so a JVM builds the conf of one blob
  * once ([[SerializableHadoopConf.built]]) and its tasks share it: a
  * task reads one array and looks it up (0.12 ms for a 1094-pair
  * session conf) where it read ~2000 strings and set ~1000 properties
  * (1.2 ms).
  */
class SerializableHadoopConf(@transient var value: org.apache.hadoop.conf.Configuration)
    extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    val blob = new java.io.ByteArrayOutputStream()
    val data = new java.io.DataOutputStream(blob)
    value.iterator().asScala.foreach { e =>
      Seq(e.getKey, e.getValue).foreach { v =>
        val b = v.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        data.writeInt(b.length)
        data.write(b)
      }
    }
    out.writeObject(blob.toByteArray)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = SerializableHadoopConf.built(in.readObject().asInstanceOf[Array[Byte]])
  }
}

object SerializableHadoopConf {
  // blob → conf; a handful of distinct session confs per JVM at most,
  // so dropping everything past the bound costs nothing in practice
  private val cache = new java.util.concurrent.ConcurrentHashMap[
    java.nio.ByteBuffer, org.apache.hadoop.conf.Configuration]
  private val MaxConfs = 16

  /** The conf of `blob`'s pairs, built once per JVM. It is shared, so
    * nothing may `set` on it.
    */
  private def built(blob: Array[Byte]): org.apache.hadoop.conf.Configuration = {
    if (cache.size >= MaxConfs) cache.clear()
    cache.computeIfAbsent(java.nio.ByteBuffer.wrap(blob), _ => {
      val c = new org.apache.hadoop.conf.Configuration(false)
      val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(blob))
      def str(): String = {
        val b = new Array[Byte](in.readInt())
        in.readFully(b)
        new String(b, java.nio.charset.StandardCharsets.UTF_8)
      }
      while (in.available() > 0) c.set(str(), str())
      c
    })
  }
}

/** The local filesystem's raw layer with Hadoop's `setPermission`
  * replaced for plain rwx modes: without libhadoop the stock one forks
  * a `chmod` process, and every create and mkdir calls it (twice per
  * checksummed file: data and `.crc`). The mode set is the same; a
  * mode with the sticky bit still takes Hadoop's own path.
  */
private[sources] final class NioModeRawLocalFileSystem
    extends org.apache.hadoop.fs.RawLocalFileSystem {
  import java.nio.file.attribute.PosixFilePermission._
  // bit i of the octal mode, lowest first
  private val bits = Array(OTHERS_EXECUTE, OTHERS_WRITE, OTHERS_READ,
    GROUP_EXECUTE, GROUP_WRITE, GROUP_READ,
    OWNER_EXECUTE, OWNER_WRITE, OWNER_READ)
  override def setPermission(p: org.apache.hadoop.fs.Path,
      perm: org.apache.hadoop.fs.permission.FsPermission): Unit = {
    val mode = perm.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, perm)
    else {
      val set = java.util.EnumSet.noneOf(
        classOf[java.nio.file.attribute.PosixFilePermission])
      for (i <- bits.indices if (mode & (1 << i)) != 0) set.add(bits(i))
      java.nio.file.Files.setPosixFilePermissions(pathToFile(p).toPath, set)
    }
  }
}

/** Sorted `.proto.zst` listing — the shared O1 source-discovery step —
  * and the engine's filesystem resolver ([[ProtoZstFiles.fs]]).
  * Hadoop-FS based, so a proto-zst directory can live on any filesystem
  * the session can reach (local, HDFS, S3A); paths without a scheme
  * resolve against the session's `fs.defaultFS`.
  */
object ProtoZstFiles {
  import org.apache.hadoop.fs.Path

  /** The active session's Hadoop conf (fs settings/credentials); a bare
    * default conf outside any session (direct construction in tests).
    */
  def hadoopConf(): org.apache.hadoop.conf.Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(org.apache.spark.sql.graft.Shim.hadoopConf)
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  /** Whether `uri` (a filesystem's, or a path's with its scheme
    * resolved) names the local filesystem: the one test behind [[fs]]
    * and the manifest's flock and hard-link publish.
    */
  def isLocal(uri: java.net.URI): Boolean = "file" == uri.getScheme

  /** The engine's one way to a Hadoop `FileSystem`. A local path (a
    * `file:` one, or a scheme-less one under a local `fs.defaultFS`)
    * gets one per-JVM `LocalFileSystem` over
    * [[NioModeRawLocalFileSystem]]: the same `.crc` checksums, modes
    * and umask as stock, set without forking. It is built from the
    * first caller's conf, as Hadoop's own cache would be. Every other
    * scheme falls through to `path.getFileSystem(conf)`.
    */
  def fs(path: Path, conf: org.apache.hadoop.conf.Configuration)
      : org.apache.hadoop.fs.FileSystem = {
    val uri = path.toUri
    if (!isLocal(if (uri.getScheme != null) uri
        else org.apache.hadoop.fs.FileSystem.getDefaultUri(conf)))
      path.getFileSystem(conf)
    else {
      var l = localFs
      if (l == null) synchronized {
        l = localFs
        if (l == null) {
          l = new org.apache.hadoop.fs.LocalFileSystem(
            new NioModeRawLocalFileSystem)
          l.setConf(conf)
          l.initialize(java.net.URI.create("file:///"), conf)
          localFs = l
        }
      }
      l
    }
  }
  @volatile private var localFs: org.apache.hadoop.fs.LocalFileSystem = _

  def list(path: String, conf: org.apache.hadoop.conf.Configuration): Array[String] =
    listWithSizes(path, conf).map(_._1)

  /** As [[list]] but keeping each file's length from the SAME
    * listStatus (no extra round-trips) — the listing view's sizes
    * ([[ManifestIndex.listing]]) and the listing-mode stream's byte
    * budget; governed reads take bytes from the snapshot and never
    * stat a file.
    */
  def listWithSizes(path: String,
      conf: org.apache.hadoop.conf.Configuration): Array[(String, Long)] = {
    MetaIO.dataListings.incrementAndGet()
    val p = new Path(path)
    val fs = ProtoZstFiles.fs(p, conf)
    if (!fs.exists(p)) Array.empty
    else {
      val st = fs.getFileStatus(p)
      val files =
        if (st.isFile) Array(st)
        else fs.listStatus(p)
          .filter(s => s.isFile && s.getPath.getName.endsWith(".proto.zst"))
      files.sortBy(_.getPath.getName)
        .map(s => (s.getPath.toString, s.getLen))
    }
  }
}

/** The one planning view of a proto-zst read's roots: the
  * [[FileMeta]] of every file, from [[ManifestIndex.plan]] — loaded at
  * most once, on first use, and shared by the scan builder's aggregate
  * pushdown and the scan it builds.
  */
final class FileView(val paths: Seq[String], val version: Option[Long],
    val conf: SerializableHadoopConf =
      new SerializableHadoopConf(ProtoZstFiles.hadoopConf())) {
  lazy val metas: Array[FileMeta] = ManifestIndex.plan(paths, conf.value, version)
}

object ProtoZstScan {
  /** Default ceiling on live tombstone bytes a scan will carry (scan
    * option `maxTombstoneBytes` overrides). 64 MB of keys is far past
    * any sane purge cadence — the cap exists to turn "someone forgot
    * maintenance for a year" into a loud error instead of a silent
    * driver/task memory creep.
    */
  val DefaultMaxTombstoneBytes: Long = 64L << 20

  private val BucketTag = """.*-b(\d+)\.proto\.zst$""".r

  /** The bucket id the bucketed writer embedded in a file name. */
  def bucketOf(file: String): Option[Int] = file match {
    case BucketTag(b) => Some(b.toInt)
    case _ => None
  }
}

class ProtoZstScan(view: FileView, ignoreCorrupt: Boolean,
    override val readSchema: StructType,
    filters: Array[org.apache.spark.sql.sources.Filter],
    buckets: Option[Int] = None, viaCatalog: Boolean = false,
    maxFilesPerTrigger: Option[Int] = None,
    timeBounds: Option[(Long, Long)] = None,
    startingWriteTimeUs: Option[Long] = None,
    maxBytesPerTrigger: Option[Long] = None,
    maxTombstoneBytes: Long = ProtoZstScan.DefaultMaxTombstoneBytes)
    extends Scan
    with Batch
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportOrdering
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {
  // the builder's one conf, captured on the driver; ships to executors
  // with the reader factory
  private val conf = view.conf
  // the slice size of a file read whole ([[FileIndex.slices]]), from
  // the session that plans the scan
  private val sliceBytes =
    org.apache.spark.sql.SparkSession.active.sessionState.conf.filesMaxPartitionBytes

  /** Runtime (DPP-style) file pruning: the scan advertises `key` as
    * runtime-filterable, so a selective join against a small dimension
    * hands the build side's actual key set to [[filter]] AFTER it is
    * known — and whole files whose recorded range misses every key are
    * dropped before a byte is read. Static pushdown can't see these
    * keys (they come from another table's data); this is the dynamic
    * half of the index-summary seek, and at 100 TB it's what makes
    * "join the corpus to this week's cohort" read the cohort's files
    * instead of the corpus.
    */
  private var runtimeFilters: Array[org.apache.spark.sql.sources.Filter] =
    Array.empty
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("key"))
  override def filter(fs: Array[org.apache.spark.sql.sources.Filter]): Unit =
    runtimeFilters = fs.filter(KeyPredicate.supported)
  override def toBatch: Batch = this
  override def description(): String =
    s"proto-zst PushedFilters: [${filters.mkString(", ")}], " +
      s"ReadSchema: ${readSchema.simpleString}" +
      buckets.map(n => s", Buckets: $n").getOrElse("") +
      timeBounds.map { case (lo, hi) =>
        s", WriteTimeWindowUs: [$lo, $hi]" }.getOrElse("") +
      view.version.map(v => s", ManifestVersion: $v").getOrElse("")

  /** Live equality-delete tombstone files in the planned snapshot —
    * loaded driver-side (bounded by [[maxTombstoneBytes]]) and shipped
    * to every task as the scan's anti-set. The listing view has no
    * tombstones, so listed reads carry none.
    */
  private lazy val tombMeta: Array[FileMeta] = view.metas.filter(_.tomb)

  // the post-skip metadata, fixed once so outputPartitioning() and
  // planInputPartitions() describe the same file set; range and time
  // skip evaluate against the in-memory view. DATA files only:
  // tombstone entries are the scan's anti-set, never its input.
  private lazy val plannedMeta: Array[FileMeta] = {
    val ranged = ManifestIndex.skipByRange(view.metas.filterNot(_.tomb), filters)
    timeBounds.fold(ranged) { case (lo, hi) =>
      ManifestIndex.skipByTime(ranged, lo, hi)
    }
  }

  /** bucket id → that bucket's files, when EVERY planned file carries a
    * bucket tag (`-bNNNN` in the name, written by the bucketed writer).
    * A single untagged file (foreign writer) disables grouping — the
    * scan silently degrades to per-file partitions, never lies to the
    * planner.
    */
  private lazy val grouped: Option[Array[(Int, Array[FileMeta])]] =
    buckets.filter(_ => viaCatalog && plannedMeta.nonEmpty).flatMap { _ =>
      val tagged = plannedMeta.map(m => ProtoZstScan.bucketOf(m.path).map(_ -> m))
      if (tagged.exists(_.isEmpty)) None
      else Some(tagged.flatten.groupBy(_._1).view
        .mapValues(_.map(_._2)).toArray.sortBy(_._1))
    }

  /** §4.3's `SupportsReportPartitioning`: a bucketed directory read
    * through the catalog reports `KeyGroupedPartitioning(bucket(n,
    * key), groups)` — Catalyst then plans co-bucketed joins/merges over
    * sink generations with ZERO exchanges (storage-partitioned join)
    * instead of reshuffling data that is already clustered on disk.
    */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    grouped match {
      case Some(g) =>
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          Array(org.apache.spark.sql.connector.expressions.Expressions
            .bucket(buckets.get, "key")), g.length)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(
          plannedMeta.length)
    }

  /** §4.3's `SupportsReportOrdering`, guarded by RECORDED sortedness:
    * each split is key-ASC iff every bucket group is a single file
    * whose meta attests its rows were written key-sorted (the catalog
    * write's required ordering produces exactly this). Catalyst then
    * elides the per-partition Sort under sort-merge plans over sink
    * generations — the last piece of "pay the layout cost at write
    * time, every later pass is narrow". Multi-file groups or
    * unattested files report no ordering; never a wrong one.
    */
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}
    val ok = grouped.exists(_.forall { case (_, metas) =>
      metas.length == 1 && metas.head.sorted
    })
    if (ok)
      Array(Expressions.sort(Expressions.column("key"),
        SortDirection.ASCENDING))
    else Array.empty
  }

  /** Conservative decoded-size multiplier over the on-disk zstd bytes:
    * text-heavy cell payloads decompress ~3-5×; overestimating keeps a
    * borderline table OUT of broadcast rather than broadcasting
    * something too big.
    */
  private val DecodeExpansion = 4L

  /** Plan-time table statistics from metadata the sink already wrote:
    * row count = the sum of per-file counts (absent if ANY planned file
    * has no count — absence degrades to unknown, never lies), size =
    * on-disk bytes × [[DecodeExpansion]]. Without this a DSv2 relation
    * defaults to "unknown = huge", so a SMALL sink directory joined to
    * a big fact table is never chosen as the broadcast side at plan
    * time — at 100 TB that's the difference between shipping a
    * dimension-sized corpus slice to every executor task's hash table
    * and shuffling the fact table. Stats are computed over
    * [[plannedMeta]], i.e. AFTER plan-time range skipping, so a
    * selective key predicate shrinks the estimate the same way
    * partition pruning shrinks parquet's. Live tombstones subtract
    * their key counts: an upper bound on rows actually removed (keys
    * may be absent), so the estimate errs low — fine for an ESTIMATE,
    * and the complete-agg pushdown (which must be exact) is vetoed
    * separately while tombstones live.
    */
  // memoized: Catalyst may call estimateStatistics repeatedly during
  // planning; the view is in memory, so this is arithmetic only
  private lazy val computedStatistics
      : org.apache.spark.sql.connector.read.Statistics = {
    val rows =
      if (plannedMeta.exists(_.count < 0L)) java.util.OptionalLong.empty()
      else java.util.OptionalLong.of(math.max(0L,
        plannedMeta.map(_.count).sum - tombMeta.map(_.count).sum))
    val size = math.max(1L, plannedMeta.map(_.bytes).sum * DecodeExpansion)
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(size)
      override def numRows(): java.util.OptionalLong = rows
    }
  }

  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = computedStatistics

  // one partition per file == the reference's per-file unit of work;
  // under a pushed key predicate, files whose recorded range provably
  // misses were dropped from [[plannedMeta]] — never listed as work,
  // never opened (the index-summary seek,
  // `SSTableReaderPatched.java:221-233`, at the granularity that
  // matters on a 1000-executor cluster: whole files). A point lookup
  // reads only what [[seeks]] planned of each file. Runtime
  // (DPP-style) filters prune the same way here. A file read whole
  // that is larger than `spark.sql.files.maxPartitionBytes` is cut into
  // frame-aligned slices ([[sliced]]). When bucket-grouping is active,
  // the unit is one BUCKET (all its files), keyed for the planner via
  // HasPartitionKey.
  override def planInputPartitions(): Array[InputPartition] =
    grouped match {
      case Some(g) =>
        // runtime filters prune files WITHIN each bucket but never drop
        // the bucket itself: the reported KeyGroupedPartitioning must
        // keep describing the same groups (an empty bucket just reads
        // nothing)
        g.map { case (b, metas) =>
          ProtoZstBucketPartition(ManifestIndex.skipByRange(metas, runtimeFilters)
            .flatMap(m => seeks.get(m.path).fold(
              Array(ProtoZstInputPartition(m): InputPartition))(_._1)), b): InputPartition
        }
      case None =>
        // a salvage read keeps a file's intact prefix, which only one
        // reader walking the file in order can know: it never slices
        val target = if (ignoreCorrupt) Long.MaxValue else sliceBytes
        ManifestIndex.skipByRange(plannedMeta, runtimeFilters)
          .flatMap(m => seeks.get(m.path).fold(sliced(m, target))(_._1))
    }

  /** The candidate keys of a pushed point lookup (`key =`/`IN`), if the
    * scan is one.
    */
  private val pointKeys: Option[Seq[Array[Byte]]] = KeyPredicate.pointKeys(filters)

  /** The frame boundaries of each file larger than the slice size that
    * a point lookup's bloom probe could not rule out and [[seeks]]
    * leaves to be read whole, so that slicing it reads its index no
    * second time. Only these are kept: every other file's index is
    * dropped once probed.
    */
  private val probedFrames =
    scala.collection.mutable.Map.empty[String, Array[FileIndex.Frame]]

  /** A point lookup's read of each planned file, decided on the driver
    * once per scan: the reference's bloom → index → chunk path
    * (Filter.db, then the index summary's `(key, position)` seek,
    * `SSTableReaderPatched.java:54-97`), from the file's [[FileIndex]].
    * A file whose bloom misses every candidate reads nothing; a file
    * with no frame boundary is one frame segment, read whole, sorted or
    * not; a sorted file with a frame-key index reads the frame-aligned
    * ranges [[seekPlan]] picks, as one partition. The value is those
    * partitions and the number of frame segments they span. A file
    * absent from the map (no readable index, no usable frame keys) is
    * read whole, as without a lookup.
    */
  private lazy val seeks: Map[String, (Array[InputPartition], Int)] =
    pointKeys.fold(Map.empty[String, (Array[InputPartition], Int)]) { keys =>
      plannedMeta.iterator.flatMap { m =>
        val p = new org.apache.hadoop.fs.Path(m.path)
        val idx = FileIndex.read(ProtoZstFiles.fs(p, conf.value), p)
        idx.foreach(_ => MetaIO.bloomProbes.incrementAndGet())
        if (idx.exists(i => !keys.exists(i.mightContain))) {
          MetaIO.bloomSkips.incrementAndGet()
          Some(m.path -> (Array.empty[InputPartition], 0))
        } else if (idx.exists(_.frames.isEmpty)) {
          Some(m.path -> (Array(ProtoZstInputPartition(m): InputPartition), 1))
        } else {
          val seek = idx.flatMap(seekPlan(m, keys, _)).map { case (ranges, segments) =>
            MetaIO.frameSeeks.incrementAndGet()
            MetaIO.seekBytes.addAndGet(ranges.map(_.bytes(m.bytes)).sum)
            m.path -> (
              if (ranges.isEmpty) Array.empty[InputPartition]
              else Array(ProtoZstInputPartition(m, ranges): InputPartition),
              segments)
          }
          if (seek.isEmpty && m.bytes > sliceBytes)
            probedFrames(m.path) = idx.fold(Array.empty[FileIndex.Frame])(_.frames)
          seek
        }
      }.toMap
    }

  /** The partitions of a point lookup small enough to decode on the
    * driver: every planned file was proven key-free, seeked or found to
    * be one frame, and together they read nothing or one frame segment.
    * None for every other scan, and for bucket-grouped scans, whose
    * reported partitioning only a batch scan can carry.
    */
  def localRead: Option[Array[InputPartition]] =
    if (pointKeys.isEmpty || grouped.isDefined) None
    else if (plannedMeta.forall(m => seeks.contains(m.path)) &&
        seeks.valuesIterator.map(_._2).sum <= 1)
      Some(planInputPartitions())
    else None

  /** The Index.db seek plan for a point lookup over ONE whole sorted
    * file: the minimal set of frame-aligned ranges that can hold the
    * candidate keys, from the index's frame boundaries, and the number
    * of frame segments they span — the reference's two-level read path
    * completed at the granularity a zstd stream can restart at. None =
    * no usable frame keys (no boundaries, a file its meta does not
    * attest sorted, an empty-key boundary) — degrade to the full-file
    * scan, never to a wrong subset. Segment arithmetic is
    * duplicate-safe: a key equal to a boundary's first key also
    * selects the PREVIOUS segment, because duplicates of that key can
    * straddle the boundary. The last segment reads to EOF; each
    * range's rows come from the boundaries' rows-before counts.
    */
  private def seekPlan(meta: FileMeta, keys: Seq[Array[Byte]],
      idx: FileIndex): Option[(Seq[FrameRange], Int)] = {
    val cuts = idx.frames
    if (!meta.sorted || cuts.isEmpty || cuts.exists(_.firstKey.isEmpty))
      return None
    val firsts: Array[Array[Byte]] = cuts.map(_.firstKey)
    val m = firsts.length
    // segment j ∈ [0, m] spans bytes [off(j-1), off(j)) and keys
    // [first(j-1), first(j)] — both ends inclusive (duplicates may
    // cross boundaries); a candidate k selects segments [a, b] where
    // a = #first < k, b = #first <= k
    def cmp(x: Array[Byte], y: Array[Byte]) =
      java.util.Arrays.compareUnsigned(x, y)
    val segs = scala.collection.mutable.SortedSet.empty[Int]
    keys.foreach { k =>
      var lo = 0; var hi = m
      while (lo < hi) { // a = insertion point among strictly-smaller
        val mid = (lo + hi) >>> 1
        if (cmp(firsts(mid), k) < 0) lo = mid + 1 else hi = mid
      }
      val a = lo
      var lo2 = a; var hi2 = m
      while (lo2 < hi2) { // b = insertion point among smaller-or-equal
        val mid = (lo2 + hi2) >>> 1
        if (cmp(firsts(mid), k) <= 0) lo2 = mid + 1 else hi2 = mid
      }
      (a to lo2).foreach(segs += _)
    }
    // segments a..b as one range
    def range(a: Int, b: Int): FrameRange = {
      val (start, before) =
        if (a == 0) (0L, 0L) else (cuts(a - 1).offset, cuts(a - 1).rowsBefore)
      if (b < m) FrameRange(start, cuts(b).offset, cuts(b).rowsBefore - before)
      else FrameRange(start, -1L, if (meta.count < 0L) -1L else meta.count - before)
    }
    // merge adjacent segments into maximal ranges
    val ranges = scala.collection.mutable.ArrayBuffer.empty[FrameRange]
    var runStart = -2
    var prev = -2
    (segs.toSeq :+ Int.MinValue).foreach { j =>
      if (j != prev + 1) {
        if (runStart >= 0) ranges += range(runStart, prev)
        runStart = j
      }
      prev = j
    }
    Some((ranges.toSeq.filter(_.bytes(meta.bytes) > 0), segs.size))
  }

  /** One file read whole, as frame-aligned slices of at least `target`
    * bytes each ([[FileIndex.slices]]); a file no larger than `target`
    * is one whole-file range and opens no index.
    */
  private def sliced(m: FileMeta, target: Long): Array[InputPartition] = {
    val p = new org.apache.hadoop.fs.Path(m.path)
    FileIndex.slices(m.bytes, m.count, target, probedFrames.getOrElse(m.path,
        FileIndex.frames(ProtoZstFiles.fs(p, conf.value), p)))
      .map(r => ProtoZstInputPartition(m, Seq(r)): InputPartition).toArray
  }

  /** The scan's ANTI-SET: every key named by a live tombstone file,
    * decoded once on the driver, deduped, and unsigned-sorted so task
    * readers drop matches with a binary search. Bounded by
    * [[maxTombstoneBytes]] over the entries' ATTESTED sizes (checked
    * before a byte is read); crossing the cap demands a purge instead
    * of degrading into an ever-growing per-task set. Empty (the
    * overwhelmingly common case) costs nothing anywhere.
    */
  private lazy val deletedKeys: Array[Array[Byte]] =
    TombstoneKeys.read(tombMeta.map(m => (m.path, m.bytes)).toIndexedSeq,
      conf.value, Some(maxTombstoneBytes))

  override def createReaderFactory(): PartitionReaderFactory =
    new ProtoZstReaderFactory(ignoreCorrupt, readSchema, filters, conf,
      deletedKeys)
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    if (view.paths.length != 1)
      throw new UnsupportedOperationException(
        "proto-zst streaming read monitors exactly one directory, got " +
          view.paths)
    if (view.version.isDefined)
      throw new UnsupportedOperationException(
        "manifestVersion pins a frozen snapshot — it cannot tail new " +
          "commits; use a batch read for a pinned version, or " +
          "startingWriteTimeUs to start a stream at an instant")
    new ProtoZstMicroBatchStream(view.paths.head, ignoreCorrupt, readSchema,
      filters, maxFilesPerTrigger, startingWriteTimeUs, maxBytesPerTrigger, conf)
  }
}

/** Offset = position in the sorted file listing (count of files already
  * delivered). `json` is just that integer.
  */
object KeyPredicate {
  import org.apache.spark.sql.sources._

  private def bin(v: Any): Option[Array[Byte]] = v match {
    case b: Array[Byte] => Some(b)
    case _ => None
  }

  def supported(f: Filter): Boolean = f match {
    case EqualTo("key", v) => bin(v).isDefined
    case GreaterThan("key", v) => bin(v).isDefined
    case GreaterThanOrEqual("key", v) => bin(v).isDefined
    case LessThan("key", v) => bin(v).isDefined
    case LessThanOrEqual("key", v) => bin(v).isDefined
    case In("key", vs) => vs.forall(bin(_).isDefined)
    case IsNotNull("key") => true
    case And(l, r) => supported(l) && supported(r)
    case Or(l, r) => supported(l) && supported(r)
    case Not(c) => supported(c)
    case _ => false
  }

  /** The conjunction as a test of the key bytes in place: what the
    * reader's keep gate runs on every frame, before any column is read.
    */
  def compile(fs: Array[Filter]): graft.functions.ProtoWire.KeyGate = {
    val ps = fs.map(one)
    if (ps.isEmpty) graft.functions.ProtoWire.KeepAll
    else (k, off, len) => {
      var i = 0
      while (i < ps.length && ps(i)(k, off, len)) i += 1
      i == ps.length
    }
  }

  private def cmp(k: Array[Byte], v: Array[Byte]): Int =
    java.util.Arrays.compareUnsigned(k, v)

  private def cmpAt(k: Array[Byte], off: Int, len: Int, v: Array[Byte]): Int =
    java.util.Arrays.compareUnsigned(k, off, off + len, v, 0, v.length)

  /** Interval version for file skipping: "COULD any key in [min, max]
    * satisfy the conjunction?" — an over-approximation (true = must
    * scan, false = provably no match, safe to drop the file). Filters
    * with no sound interval form (IsNotNull, Not) contribute `true`.
    */
  def compileRange(fs: Array[Filter]): (Array[Byte], Array[Byte]) => Boolean = {
    val ps = fs.map(oneRange)
    (mn, mx) => ps.forall(_(mn, mx))
  }

  private def oneRange(f: Filter): (Array[Byte], Array[Byte]) => Boolean = f match {
    case EqualTo("key", v) =>
      val b = bin(v).get; (mn, mx) => cmp(b, mn) >= 0 && cmp(b, mx) <= 0
    case GreaterThan("key", v) =>
      val b = bin(v).get; (_, mx) => cmp(mx, b) > 0
    case GreaterThanOrEqual("key", v) =>
      val b = bin(v).get; (_, mx) => cmp(mx, b) >= 0
    case LessThan("key", v) =>
      val b = bin(v).get; (mn, _) => cmp(mn, b) < 0
    case LessThanOrEqual("key", v) =>
      val b = bin(v).get; (mn, _) => cmp(mn, b) <= 0
    case In("key", vs) =>
      val bs = vs.map(bin(_).get)
      (mn, mx) => bs.exists(b => cmp(b, mn) >= 0 && cmp(b, mx) <= 0)
    case And(l, r) =>
      val (a, b) = (oneRange(l), oneRange(r)); (mn, mx) => a(mn, mx) && b(mn, mx)
    case Or(l, r) =>
      val (a, b) = (oneRange(l), oneRange(r)); (mn, mx) => a(mn, mx) || b(mn, mx)
    case _ => (_, _) => true
  }

  /** The finite CANDIDATE KEY SET a pushed conjunction confines `key`
    * to, if any — what gates the scan's driver-side bloom probe and
    * frame seek: Some(keys) is
    * returned only when at least one conjunct is an equality/IN (or an
    * Or-tree of them), so every row that can pass the filters has
    * key ∈ keys. Conjuncts with no finite form (ranges, IsNotNull)
    * only narrow further and are ignored soundly; sets from multiple
    * conjuncts intersect. None means "not a point lookup" — the scan
    * never touches a bloom.
    */
  def pointKeys(fs: Array[Filter]): Option[Seq[Array[Byte]]] = {
    def finite(f: Filter): Option[Seq[Array[Byte]]] = f match {
      case EqualTo("key", v) => bin(v).map(Seq(_))
      case In("key", vs) =>
        val bs = vs.flatMap(bin(_))
        if (bs.length == vs.length) Some(bs.toSeq) else None
      case And(l, r) => (finite(l), finite(r)) match {
        case (Some(a), Some(b)) =>
          Some(a.filter(x => b.exists(java.util.Arrays.equals(x, _))))
        case (a, None) => a
        case (None, b) => b
      }
      case Or(l, r) =>
        for { a <- finite(l); b <- finite(r) } yield a ++ b
      case _ => None
    }
    val sets = fs.flatMap(finite(_))
    if (sets.isEmpty) None
    else Some(sets.reduce((a, b) =>
      a.filter(x => b.exists(java.util.Arrays.equals(x, _)))))
  }

  private def one(f: Filter): graft.functions.ProtoWire.KeyGate = f match {
    case EqualTo("key", v) =>
      val b = bin(v).get; (k, o, n) => java.util.Arrays.equals(k, o, o + n, b, 0, b.length)
    case GreaterThan("key", v) => val b = bin(v).get; (k, o, n) => cmpAt(k, o, n, b) > 0
    case GreaterThanOrEqual("key", v) => val b = bin(v).get; (k, o, n) => cmpAt(k, o, n, b) >= 0
    case LessThan("key", v) => val b = bin(v).get; (k, o, n) => cmpAt(k, o, n, b) < 0
    case LessThanOrEqual("key", v) => val b = bin(v).get; (k, o, n) => cmpAt(k, o, n, b) <= 0
    case In("key", vs) =>
      val bs = vs.map(bin(_).get)
      (k, o, n) => bs.exists(b => java.util.Arrays.equals(k, o, o + n, b, 0, b.length))
    case IsNotNull("key") => (_, _, _) => true // keys are never null on the wire
    case And(l, r) => val (a, b) = (one(l), one(r)); (k, o, n) => a(k, o, n) && b(k, o, n)
    case Or(l, r) => val (a, b) = (one(l), one(r)); (k, o, n) => a(k, o, n) || b(k, o, n)
    case Not(c) => val a = one(c); (k, o, n) => !a(k, o, n)
    case other =>
      throw new IllegalArgumentException(s"unsupported pushed filter: $other")
  }
}

/** The one unit of every proto-zst read: frame-aligned byte ranges of
  * one file, read in order, each with the rows the writer attested for
  * it. A whole file is the one range from 0 to EOF with the file's
  * count; a slice of a file larger than
  * `spark.sql.files.maxPartitionBytes` is one range between two
  * recorded frame boundaries; a point lookup's seek
  * is the ranges that can hold its keys. Every range decodes on its
  * own, the slices of a file partition its rows exactly, and a slice
  * of a key-sorted file is itself key-sorted. The [[FileMeta]] gates
  * the point-lookup stop on `sorted`.
  */
case class ProtoZstInputPartition(meta: FileMeta, ranges: Seq[FrameRange])
    extends InputPartition {
  def file: String = meta.path
}

object ProtoZstInputPartition {
  /** The whole file: one range to EOF, its attested count. */
  def apply(meta: FileMeta): ProtoZstInputPartition =
    ProtoZstInputPartition(meta, Seq(FrameRange(0L, -1L, meta.count)))
}

/** One BUCKET of a bucketed directory: all its files' reads (whole
  * files, or a point lookup's seeks), plus the bucket id as the split's
  * partition key — what lets Spark line this split up with the same
  * bucket of another generation in a storage-partitioned join without
  * any exchange.
  */
case class ProtoZstBucketPartition(parts: Array[InputPartition], bucket: Int)
    extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](bucket))
}

/** Task commit: the manifest entries (name + stats) of every file this
  * task landed — what the driver-side job/epoch commit folds into the
  * generation manifest. `files`/`rows` views keep rollback simple.
  */
/** EOF after exactly `limit` bytes of the wrapped stream — how a slice
  * reader stops at its frame-aligned end offset without tracking
  * compressed positions through the decompressor's buffering.
  */
private[graft] final class BoundedIn(in: java.io.InputStream,
    private var limit: Long) extends java.io.InputStream {
  override def read(): Int =
    if (limit <= 0) -1
    else { val b = in.read(); if (b >= 0) limit -= 1; b }
  override def read(buf: Array[Byte], off: Int, len: Int): Int = {
    if (limit <= 0) return -1
    val n = in.read(buf, off, math.min(len.toLong, limit).toInt)
    if (n > 0) limit -= n
    n
  }
  override def close(): Unit = in.close()
}

/** The task-side reader of every proto-zst partition: whole files,
  * frame-aligned slices, bucket groups, the driver-side
  * [[ProtoZstLocalScan]] and the micro-batch stream all decode through
  * one [[ProtoWire.RowDecoder]] per byte range, which writes each kept
  * row straight into a reused `UnsafeRow` of the read schema. The read
  * shape, the keep gate (pushed key filters and the tombstone anti-set,
  * evaluated on the key bytes in place) and a point lookup's largest
  * candidate key are compiled once per factory.
  */
class ProtoZstReaderFactory(ignoreCorrupt: Boolean,
    readSchema: StructType,
    filters: Array[org.apache.spark.sql.sources.Filter],
    conf: SerializableHadoopConf,
    deletedKeys: Array[Array[Byte]] = Array.empty)
    extends PartitionReaderFactory {

  /** Equality-delete probe against the scan's unsigned-sorted anti-set. */
  private def isDeleted(k: Array[Byte], off: Int, len: Int): Boolean = {
    var lo = 0
    var hi = deletedKeys.length - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val d = deletedKeys(mid)
      val c = java.util.Arrays.compareUnsigned(d, 0, d.length, k, off, off + len)
      if (c == 0) return true
      else if (c < 0) lo = mid + 1
      else hi = mid - 1
    }
    false
  }

  @transient private lazy val shape = ProtoWire.ReadShape(readSchema)

  // the tombstone anti-set composes into the pushed-filter gate: a
  // deleted row is dropped before its columns decode, exactly like a
  // pushed-filter miss
  @transient private lazy val keep: ProtoWire.KeyGate = {
    val pushed = KeyPredicate.compile(filters)
    if (deletedKeys.isEmpty) pushed
    else (k, off, len) => pushed(k, off, len) && !isDeleted(k, off, len)
  }

  /** The largest candidate key of a pushed point lookup: past it, a
    * key-sorted range holds no kept row.
    */
  @transient private lazy val lastKey: Array[Byte] =
    KeyPredicate.pointKeys(filters).filter(_.nonEmpty)
      .map(_.max(Ordering.comparatorToOrdering(
        java.util.Arrays.compareUnsigned(_: Array[Byte], _: Array[Byte]))))
      .orNull

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    p match {
      // a strict read arms every range's truncation guard with its
      // attested row count: a frame-aligned truncation ends the zstd
      // stream cleanly and would otherwise LOSE rows silently. A point
      // lookup over a key-sorted file stops at its last key, and a
      // stopped range is not checked. Salvage mode keeps every
      // recoverable row of the file's intact prefix: it reads the
      // ranges frame by frame, so damage in one frame cannot cost the
      // frames before it, and the first failed frame ends the read.
      case ProtoZstInputPartition(meta, ranges) =>
        val stop = if (meta.sorted) lastKey else null
        if (ignoreCorrupt) {
          lazy val cuts = frameOffsets(meta)
          salvaged(meta.path, ranges.iterator.flatMap { r =>
            val inner = cuts.filter(o => o > r.start && (r.end < 0L || o < r.end))
            (r.start +: inner) zip (inner :+ r.end)
          }, stop)
        } else chain(ranges.iterator.map(r =>
          new Decoded(meta.path, r.start, r.end, r.rows, stop)))
      case ProtoZstBucketPartition(parts, _) =>
        chain(parts.iterator.map(createReader))
      case other =>
        throw new IllegalArgumentException(s"unexpected partition: $other")
    }

  /** Several readers back to back, each opened only when the previous
    * one is drained.
    */
  private def chain(readers: Iterator[PartitionReader[InternalRow]])
      : PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private var cur: PartitionReader[InternalRow] = _
      override def next(): Boolean = {
        while (true) {
          if (cur == null) {
            if (!readers.hasNext) return false
            cur = readers.next()
          }
          if (cur.next()) return true
          cur.close()
          cur = null
        }
        false
      }
      override def get(): InternalRow = cur.get()
      override def close(): Unit = if (cur != null) cur.close()
    }

  /** The recorded frame boundaries of a file, from its index; none when
    * it has no readable index.
    */
  private def frameOffsets(meta: FileMeta): Array[Long] = {
    val p = new org.apache.hadoop.fs.Path(meta.path)
    FileIndex.frames(ProtoZstFiles.fs(p, conf.value), p).map(_.offset)
  }

  /** Rows of [start, end) of `file` (end = -1 ⇒ EOF) off their own
    * decompressor; `expect ≥ 0` is the truncation guard's attested row
    * count, and `stop` (or null) the key past which the range ends. A
    * range reads exactly its bytes: the cut points are frame
    * boundaries, so EOF of the bounded stream is a clean frame end.
    */
  private final class Decoded(file: String, start: Long, end: Long,
      expect: Long, stop: Array[Byte]) extends PartitionReader[InternalRow] {
    private val in: java.io.InputStream = {
      val p = new org.apache.hadoop.fs.Path(file)
      val raw = ProtoZstFiles.fs(p, conf.value).open(p)
      try {
        if (start > 0) raw.seek(start)
        new ZstdInputStream(if (end >= 0) new BoundedIn(raw, end - start) else raw)
      } catch { case e: Exception => raw.close(); throw e }
    }
    private val rows = new ProtoWire.RowDecoder(in, shape, keep, expect, stop)
    override def next(): Boolean = rows.next()
    override def get(): InternalRow = rows.row
    override def close(): Unit = in.close()
  }

  /** Salvage read of `ranges` in order, each off its own decompressor:
    * the first range that fails to open or decode ends the read, and
    * every row before the failure is kept (the per-record analog of the
    * reference's per-file suspect marking). A row is emitted only after
    * its whole message validated. A file gone by read time yields no
    * rows.
    */
  private def salvaged(file: String, ranges: Iterator[(Long, Long)],
      stop: Array[Byte]): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private var cur: Decoded = _
      private var failed = false
      override def next(): Boolean = {
        while (!failed)
          try {
            if (cur != null && cur.next()) return true
            close()
            if (!ranges.hasNext) return false
            val (s, e) = ranges.next()
            cur = new Decoded(file, s, e, -1L, stop)
          } catch { case _: Exception => failed = true; close() }
        false
      }
      override def get(): InternalRow = cur.get()
      override def close(): Unit =
        if (cur != null) {
          try cur.close() catch { case _: Exception => () }
          cur = null
        }
    }
}
