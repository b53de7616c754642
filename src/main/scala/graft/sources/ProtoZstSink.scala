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

/** The proto-zst WRITE path: per-task zstd encoders with tmp+rename
  * task commit, key-prefix file rolling (`splitKeyPrefix`), per-file
  * indexes ([[FileIndex]]) and observed write-time ranges, and the job-level
  * atomic manifest commit (batch append + streaming epochs). Split
  * from `ProtoZstSource.scala` along the read/write seam.
  */
case class ProtoZstCommit(entries: Seq[GenManifest.Entry]) extends WriterCommitMessage {
  def files: Seq[String] = entries.map(_.name)
  def rows: Long = entries.map(_.count).sum
}

/** Commit message for a task whose partition was empty: no file was
  * opened, so there is nothing to report — and nothing for a job-level
  * rollback to delete (it matches only [[ProtoZstCommit]]).
  */
case object ProtoZstEmptyCommit extends WriterCommitMessage

object ProtoZstWriterFactory {
  /** Rows per zstd frame: the writer ends the frame and records a
    * checkpoint this often, making files splittable at read time (see
    * [[FileIndex]]). 4096 rows keeps frames large enough that the
    * restart costs ~nothing in compression ratio, while a multi-GB
    * file still yields thousands of slice points. Writer option
    * `splitFrameRows` overrides (specs use tiny values to exercise
    * slicing on toy files).
    */
  val DefaultSplitFrameRows = 4096
}

/** One `.proto.zst` file per (epoch, partition, task); rows are encoded
  * to the wire format here (key binary, columns array&lt;struct&gt; in,
  * framed bytes out). Lazily opened so empty partitions write nothing.
  */
/** @param splitPrefix roll a NEW output file whenever the first
  *   `splitPrefix` bytes of the key differ — the partitioned-export
  *   write: cluster rows by their group upstream (any partitioning
  *   that co-locates a group works, hash collisions included — the
  *   writer splits by CONTENT, not by task), sort within partitions by
  *   key, and every group becomes exactly one key-sorted, index-
  *   attested file, all committed in ONE manifest version bump. This
  *   is how a training release ships one file per (epoch, shard)
  *   without a task-per-group partitioner. Mutually exclusive with
  *   `buckets` by construction (the caller sets one or the other).
  */
class ProtoZstWriterFactory(dir: String, buckets: Option[Int] = None,
    splitPrefix: Option[Int] = None,
    splitFrameRows: Int = ProtoZstWriterFactory.DefaultSplitFrameRows)
    extends DataWriterFactory with StreamingDataWriterFactory {
  // captured on the driver (newWriteBuilder runs there), deserialized on
  // each executor
  private val conf = new SerializableHadoopConf(ProtoZstFiles.hadoopConf())

  // Per-JOB unique token baked into every file name: (epochId,
  // partitionId, taskId) all RESTART across applications, so a second
  // app appending to the same directory would otherwise regenerate
  // identical names and clobber previously committed files + indexes
  // (posix rename silently replaces). Generated once on the driver at
  // factory construction and serialized to every task — the same
  // reason FileStreamSink/parquet embed a job UUID.
  private val jobTag = java.util.UUID.randomUUID().toString.take(8)

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    make(partitionId, taskId, epochId = 0L)

  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    make(partitionId, taskId, epochId)

  private def make(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      import org.apache.hadoop.fs.Path
      private val dirPath = new Path(dir)
      private lazy val fs = ProtoZstFiles.fs(dirPath, conf.value)

      /** One output file: lazily opened stream + running key min/max
        * (unsigned lexicographic — BinaryType's order) for the
        * index; robust to unsorted input. Unbucketed writes use a
        * single state; bucketed writes one per bucket this task sees
        * (the planner-clustered write sends each task whole buckets, so
        * this map stays tiny).
        */
      private final class FileState(val name: String) {
        val finalFile = new Path(dirPath, name)
        val tmpFile = new Path(dirPath, name + "._tmp")
        var raw: org.apache.hadoop.fs.FSDataOutputStream = _
        var os: ZstdOutputStream = _
        var n = 0L
        var minKey: Array[Byte] = _
        var maxKey: Array[Byte] = _
        var lastKey: Array[Byte] = _
        var sorted = true // until a key arrives below its predecessor
        // cell write-time range; minT > maxT ⟺ no cell seen yet
        var minT = Long.MaxValue
        var maxT = Long.MinValue
        // zstd FRAME checkpoints (compressed byte offset, rows before
        // it, first key): the writer ends the frame every
        // `splitFrameRows` rows, so a reader can start decoding at any
        // recorded offset — what makes a big file SPLITTABLE into
        // parallel slices instead of a single-partition straggler, and
        // a sorted one SEEKABLE. Written into the index at commit;
        // observed free (one getPos per checkpoint).
        var rowsInFrame = 0
        val frames = scala.collection.mutable.ArrayBuffer.empty[FileIndex.Frame]
        // true between a frame end and the next row: that row's key is
        // the new frame's FIRST key, recorded into the pending boundary
        // (the Index.db `(key, position)` pair, one per frame)
        var needFirstKey = false
        // per-file key bloom (the Filter.db analog) — fixed 16 KB,
        // filled for free as keys stream through, so point lookups
        // skip whole files without decompressing them
        val bloom = new Array[Long](BloomSidecar.Words)
        // set once the data file is renamed into place: close() leaves
        // committed files alone
        var committed = false
        def open(): ZstdOutputStream = {
          if (os == null) {
            fs.mkdirs(dirPath)
            raw = fs.create(tmpFile, true)
            os = new ZstdOutputStream(raw).setCloseFrameOnFlush(true)
          }
          os
        }
        def checkpoint(): Unit = {
          rowsInFrame += 1
          if (rowsInFrame >= splitFrameRows) {
            os.flush() // ends the current zstd frame
            frames += FileIndex.Frame(raw.getPos, n, Array.emptyByteArray)
            needFirstKey = true
            rowsInFrame = 0
          }
        }
        def firstKey(key: Array[Byte]): Unit =
          if (needFirstKey) {
            needFirstKey = false
            frames(frames.length - 1) =
              frames(frames.length - 1).copy(firstKey = key.clone())
          }
      }

      private val states =
        scala.collection.mutable.LinkedHashMap.empty[String, FileState]

      private def nameFor(tag: String): String =
        f"part-$jobTag-e$epochId%06d-p$partitionId%05d-t$taskId$tag.proto.zst"

      // Hot-path caches: the per-row cost must stay at an int bucket
      // hash or a short byte compare — no string formatting per row.
      // Bucketed writes index an array by bucket id (tag/name built
      // once, on first use); prefix-split writes hex-encode the group
      // only when the prefix CHANGES (clustered+sorted input switches
      // groups once per file's worth of rows).
      private lazy val bucketStates =
        new Array[FileState](buckets.getOrElse(0))
      private var lastPrefix: Array[Byte] = _ // null ⟺ cache empty
      private var lastPrefixState: FileState = _
      private var soleState: FileState = _

      /** File-group state of a row: bucket number, key-prefix group,
        * or the task-wide single file. Prefix groups hex-encode so the
        * group id is filesystem-safe regardless of key bytes.
        * Normalization contract: write() maps null keys to the empty
        * byte array BEFORE calling here (see its comment), so `key` is
        * never null — null-key rows land in the "-k" empty-prefix
        * group, the same group their on-wire empty form reads back as.
        */
      private def stateOf(key: Array[Byte]): FileState =
        if (buckets.isDefined) {
          val b = GraftBucket.bucket(buckets.get, key)
          var st = bucketStates(b)
          if (st == null) {
            st = new FileState(nameFor(f"-b$b%04d"))
            bucketStates(b) = st
            states.put(st.name, st)
          }
          st
        } else splitPrefix match {
          case Some(n) =>
            val p = key.take(n)
            if (lastPrefix != null &&
                java.util.Arrays.equals(p, lastPrefix)) lastPrefixState
            else {
              val tag = "-k" + p.map(b => f"${b & 0xff}%02x").mkString
              val st = states.getOrElseUpdate(tag,
                new FileState(nameFor(tag)))
              lastPrefix = p
              lastPrefixState = st
              st
            }
          case None =>
            if (soleState == null) {
              soleState = new FileState(nameFor(""))
              states.put("", soleState)
            }
            soleState
        }

      override def write(r: InternalRow): Unit = {
        // A null key and an empty key are the SAME bytes on the wire
        // (proto3 default-skipping omits both; decode yields empty),
        // so the writer normalizes null→empty BEFORE range/sort
        // tracking: excluding null keys from min/max would record a
        // range that doesn't cover rows that read back as empty keys,
        // and a key = '' predicate (or pushed MIN(key)) would then be
        // answered wrongly from metadata. The cost is conservative:
        // an empty min hex-encodes to the no-range sentinel, so such
        // files are simply never range-skipped.
        val key =
          if (r.isNullAt(0)) Array.emptyByteArray else r.getBinary(0)
        val cols = if (r.isNullAt(1)) null else r.getArray(1)
        val st = stateOf(key)
        val os = st.open()
        if (st.minKey == null ||
            java.util.Arrays.compareUnsigned(key, st.minKey) < 0)
          st.minKey = key.clone()
        if (st.maxKey == null ||
            java.util.Arrays.compareUnsigned(key, st.maxKey) > 0)
          st.maxKey = key.clone()
        if (st.lastKey != null &&
            java.util.Arrays.compareUnsigned(key, st.lastKey) < 0)
          st.sorted = false
        st.lastKey = key.clone()
        st.firstKey(key) // first row of a new frame → index its key
        BloomSidecar.add(st.bloom, key)
        if (cols != null) {
          // per-file cell write-time range, observed free (the same
          // walk the encoder is about to make). A null write time
          // encodes as the proto3 default 0 and READS BACK as 0, so 0
          // is what the range must cover — the write-time twin of the
          // null-key normalization above.
          var i = 0
          val nc = cols.numElements()
          while (i < nc) {
            val c = cols.getStruct(i, 3)
            val t = if (c.isNullAt(2)) 0L else c.getLong(2)
            if (t < st.minT) st.minT = t
            if (t > st.maxT) st.maxT = t
            i += 1
          }
        }
        val framed = ProtoWire.encodeDelimited(key, cols)
        os.write(framed, 0, framed.length)
        st.n += 1
        st.checkpoint()
      }

      override def commit(): WriterCommitMessage =
        if (states.isEmpty) ProtoZstEmptyCommit
        else {
          val entries = states.values.toSeq.map { st =>
            st.os.close()
            st.os = null
            // the rename keeps the length, so this is the entry's too
            val eof = fs.getFileStatus(st.tmpFile).getLen
            // drop a trailing boundary no row ever followed (row count
            // an exact multiple of splitFrameRows) and one landing at
            // EOF: zero rows live past either, and a keyless boundary
            // would disable the whole file's frame seek
            val frames = (if (st.needFirstKey) st.frames.dropRight(1)
              else st.frames).filter(_.offset < eof)
            // index first, data rename second: a listing that races the
            // commit sees either no data file, or data + index (the
            // index stays written for foreign readers and for
            // explicit-file loads that bypass the manifest)
            FileIndex.write(fs, st.finalFile, FileIndex(st.n, st.sorted,
              st.minKey, st.maxKey, frames.toArray, st.bloom))
            if (!fs.rename(st.tmpFile, st.finalFile)) {
              FileIndex.delete(fs, st.finalFile)
              throw new java.io.IOException(s"rename failed: ${st.tmpFile}")
            }
            st.committed = true
            GenManifest.Entry(st.name, eof, st.n, st.sorted,
              GenManifest.hex(st.minKey), GenManifest.hex(st.maxKey),
              if (st.minT <= st.maxT) Some((st.minT, st.maxT)) else None)
          }
          ProtoZstCommit(entries)
        }

      override def abort(): Unit = close()

      override def close(): Unit = states.values.filterNot(_.committed).foreach { st =>
        if (st.os != null) st.os.close()
        fs.delete(st.tmpFile, false)
        // an orphan index (commit failed between index write and
        // rename) must not describe a future file of the same name
        if (!fs.exists(st.finalFile)) FileIndex.delete(fs, st.finalFile)
      }
    }
}

