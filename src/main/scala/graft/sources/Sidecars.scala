package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

/** The per-file INDEX (`<file>.idx`) — the engine's one sidecar, and
  * its analog of the components Cassandra keeps beside every
  * `*-Data.db` (Summary/Statistics, Index.db, Filter.db), in one file:
  *
  *   - the row count, whether the rows arrived key-sorted, and the
  *     min/max key (the key bounds and sortedness the listing view
  *     plans from, [[ManifestIndex.fromSidecars]]);
  *   - the zstd frame boundaries the writer ended deliberately, each as
  *     (compressed offset, rows before it, first key): what lets the
  *     scan SLICE a big file into parallel partitions ([[slices]]) and
  *     a point lookup over a key-sorted file SEEK to the frames that
  *     can hold its keys (`ProtoZstScan.seekPlan`) — the reference's
  *     Index.db `(key, position)` walk (`SSTableReaderPatched.java:54-97`)
  *     at the grain a zstd stream can restart at — each range carrying
  *     the row count its boundaries attest ([[FrameRange]]);
  *   - the key bloom ([[BloomSidecar]]) a point lookup probes on the
  *     driver before planning any read of the file.
  *
  * The sink writes it at task commit, before the data file's rename,
  * and maintenance moves and deletes it with its data file. Every part
  * is an optimisation: a missing or unreadable index only costs the
  * listing view its counts and ranges, and point lookups and big-file
  * slicing fall back to whole-file reads.
  *
  * A `min` is the empty key when the file holds an empty (or null —
  * the writer folds null into empty) key, which the listing view reads
  * as no range. A boundary's `firstKey` is empty when the first row
  * after it has the empty key; such a boundary still slices but
  * disables seeking in that file.
  */
final case class FileIndex(count: Long, sorted: Boolean,
    min: Array[Byte], max: Array[Byte],
    frames: Array[FileIndex.Frame], bloom: Array[Long]) {
  def mightContain(key: Array[Byte]): Boolean =
    BloomSidecar.mightContain(bloom, key)
}

object FileIndex {
  final case class Frame(offset: Long, rowsBefore: Long, firstKey: Array[Byte])

  // "GIDX"; the version tag also fixes the bloom's geometry
  private val Magic = 0x47494458
  private val Version: Byte = 1

  def path(data: Path): Path = new Path(data.getParent, data.getName + ".idx")

  /** Layout: magic, version, count, sorted, min, max, frame count,
    * frames (offset, rows before, first key), bloom words, then a CRC32
    * of every byte before it. Keys are an int length and their bytes.
    */
  def write(fs: FileSystem, data: Path, idx: FileIndex): Unit = {
    val bytes = new java.io.ByteArrayOutputStream(idx.bloom.length * 8 + 256)
    val out = new java.io.DataOutputStream(bytes)
    def key(k: Array[Byte]): Unit = { out.writeInt(k.length); out.write(k) }
    out.writeInt(Magic)
    out.writeByte(Version)
    out.writeLong(idx.count)
    out.writeBoolean(idx.sorted)
    key(idx.min)
    key(idx.max)
    out.writeInt(idx.frames.length)
    idx.frames.foreach { f =>
      out.writeLong(f.offset); out.writeLong(f.rowsBefore); key(f.firstKey)
    }
    idx.bloom.foreach(out.writeLong)
    val crc = new java.util.zip.CRC32
    crc.update(bytes.toByteArray)
    out.writeInt(crc.getValue.toInt)
    val os = fs.create(path(data), true)
    try bytes.writeTo(os) finally os.close()
  }

  /** The whole index from one open, or None when it is missing,
    * truncated, fails its CRC or has an unknown version.
    */
  def read(fs: FileSystem, data: Path): Option[FileIndex] =
    try {
      MetaIO.indexReads.incrementAndGet()
      val in = fs.open(path(data))
      decode(try in.readAllBytes() finally in.close())
    } catch { case _: Exception => None }

  /** The recorded frame boundaries from [[read]]; none when the index
    * is unreadable.
    */
  def frames(fs: FileSystem, data: Path): Array[Frame] =
    read(fs, data).fold(Array.empty[Frame])(_.frames)

  private def decode(b: Array[Byte]): Option[FileIndex] = {
    val n = b.length - 4
    if (n < 5) return None
    val crc = new java.util.zip.CRC32
    crc.update(b, 0, n)
    val buf = java.nio.ByteBuffer.wrap(b, 0, n)
    if (java.nio.ByteBuffer.wrap(b).getInt(n) != crc.getValue.toInt ||
        buf.getInt != Magic || buf.get != Version) return None
    def key(): Array[Byte] = {
      val len = buf.getInt
      require(len >= 0 && len <= buf.remaining)
      val k = new Array[Byte](len)
      buf.get(k)
      k
    }
    val count = buf.getLong
    val sorted = buf.get match {
      case 0 => false
      case 1 => true
      case _ => return None
    }
    val min = key()
    val max = key()
    val nFrames = buf.getInt
    require(nFrames >= 0 && nFrames <= buf.remaining / 20)
    val frames = Array.fill(nFrames)(Frame(buf.getLong, buf.getLong, key()))
    require(buf.remaining == BloomSidecar.Words * 8)
    val bloom = Array.fill(BloomSidecar.Words)(buf.getLong)
    Some(FileIndex(count, sorted, min, max, frames, bloom))
  }

  /** Best-effort move beside a data-file rename: a missing or refused
    * index only costs its optimisations, never correctness.
    */
  def move(fs: FileSystem, src: Path, dst: Path): Unit =
    try fs.rename(path(src), path(dst)) catch { case _: Exception => () }

  def delete(fs: FileSystem, data: Path): Unit = fs.delete(path(data), false)

  /** The one slicing rule: a file of `bytes` attested bytes and
    * `count` attested rows as ranges cut greedily at its recorded frame
    * boundaries, each at least `sliceBytes` long. The last range reads
    * to EOF, so bytes appended past the attested length decode as a
    * whole-file read sees them. A file no larger than `sliceBytes`, or
    * without recorded boundaries, is one range; `frames` is read only
    * for a larger file. A slice boundary is always a frame boundary, so
    * ranges decode independently and partition the rows exactly, and
    * each range's row count is the difference of the writer's
    * rows-before counts (the last one's is `count` minus its start's).
    */
  def slices(bytes: Long, count: Long, sliceBytes: Long,
      frames: => Array[Frame]): Seq[FrameRange] = {
    val cuts =
      if (bytes <= sliceBytes) Array.empty[Frame]
      else frames.filter(f => f.offset > 0 && f.offset < bytes)
    val out = scala.collection.mutable.ArrayBuffer.empty[FrameRange]
    var start = Frame(0L, 0L, Array.emptyByteArray)
    cuts.foreach { c =>
      if (c.offset - start.offset >= sliceBytes) {
        out += FrameRange(start.offset, c.offset, c.rowsBefore - start.rowsBefore)
        start = c
      }
    }
    out += FrameRange(start.offset, -1L,
      if (count < 0L) -1L else count - start.rowsBefore)
    out.toSeq
  }
}

/** Bytes [start, end) of one data file (`end` −1: to EOF), cut at
  * recorded zstd frame boundaries so the range decodes on its own, and
  * the rows the writer attested for it (−1: unknown). A strict read
  * refuses a range that decodes to another count: a truncation at a
  * frame boundary ends the zstd stream cleanly, so only the count can
  * see it.
  */
final case class FrameRange(start: Long, end: Long, rows: Long) {
  /** The range's length in a file of `fileBytes` attested bytes. */
  def bytes(fileBytes: Long): Long = (if (end < 0L) fileBytes else end) - start
}

/** The frame boundaries of a file as (offset, rows before it), from its
  * [[FileIndex]]; None when it has none. The benchmark's frame counts
  * read through this.
  */
object SplitSidecar {
  def read(fs: FileSystem, data: Path): Option[Array[(Long, Long)]] =
    FileIndex.read(fs, data).map(_.frames.map(f => (f.offset, f.rowsBefore)))
      .filter(_.nonEmpty)
}

/** The per-file KEY BLOOM's hash functions — the engine's Filter.db:
  * Cassandra consults a per-SSTable bloom before touching the file on
  * every point read, and this is the same move for the proto-zst
  * format. (The reference's table schema carries
  * `bloom_filter_fp_chance` precisely because its SSTables ship one —
  * `SSTableReader.java:30` — though its own bulk-scan path never
  * point-reads; this engine's q208/q214 "does this hash exist" reads
  * do, constantly.) The sink sets [[K]] bits per key into a
  * fixed-[[Bits]] filter while writing (observed free — the key bytes
  * are already in hand) and stores it in the file's [[FileIndex]]; a
  * point-lookup scan (a pushed `key =` / `IN` predicate, see
  * [[KeyPredicate.pointKeys]]) probes it on the DRIVER while planning
  * and drops every file for which no candidate key can be present — no
  * partition, no decode.
  *
  * Why beside the manifest rather than in it: folding 16 KB of bloom
  * per entry into the manifest would trade away its one-tiny-read
  * planning (every delta and checkpoint would carry megabytes), so the
  * probe reads the index — but only for files the manifest's range and
  * time skip kept, and only for point lookups. The trade is one index
  * read per range-surviving file at planning, against one task per
  * such file at execution: a point get the blooms rule out plans zero
  * partitions and runs no Spark job at all. Range skip already prunes
  * most files for SORTED layouts; the bloom earns its keep exactly
  * where ranges cannot — content-addressed (hash-keyed) exports whose
  * per-epoch files all span the full key space, where every file pays
  * the probe (the O(files) driver read is the cost of such a layout's
  * point get).
  *
  * Geometry is FIXED (2^17 bits, 3 probes) rather than sized per
  * file: the writer streams rows and cannot size a bloom it has
  * already started filling. At the sink's epoch/frame file sizes
  * (10³–10⁴ keys) the false-positive rate is ≤~0.1%; a multi-million-
  * key compacted file saturates toward "always maybe" — which only
  * degrades the skip back to a normal scan, never drops a row.
  */
object BloomSidecar {
  val Bits = 1 << 17
  val Words: Int = Bits / 64
  val K = 3

  // two independent 64-bit FNV-1a streams; double hashing h1 + i·h2
  // spreads the K probe positions (the standard Kirsch–Mitzenmacher
  // construction). Engine-internal only — no oracle ever sees these.
  private def fnv(key: Array[Byte], seed: Long): Long = {
    var h = seed
    var i = 0
    while (i < key.length) {
      h = (h ^ (key(i) & 0xffL)) * 0x100000001b3L
      i += 1
    }
    h
  }

  @inline private def pos(h1: Long, h2: Long, i: Int): Int =
    (((h1 + i.toLong * h2) & Long.MaxValue) % Bits).toInt

  def add(words: Array[Long], key: Array[Byte]): Unit = {
    val h1 = fnv(key, 0xcbf29ce484222325L)
    val h2 = fnv(key, 0x9e3779b97f4a7c15L) | 1L
    var i = 0
    while (i < K) {
      val p = pos(h1, h2, i)
      words(p >>> 6) |= 1L << (p & 63)
      i += 1
    }
  }

  def mightContain(words: Array[Long], key: Array[Byte]): Boolean = {
    val h1 = fnv(key, 0xcbf29ce484222325L)
    val h2 = fnv(key, 0x9e3779b97f4a7c15L) | 1L
    var i = 0
    while (i < K) {
      val p = pos(h1, h2, i)
      if ((words(p >>> 6) & (1L << (p & 63))) == 0L) return false
      i += 1
    }
    true
  }
}
