package graft.sources

/** The per-file SIDECAR family — the engine's analog of the sidecar
  * files Cassandra keeps beside every `*-Data.db`: `.range`
  * (Summary/Statistics key bounds + sortedness + count), `.split`
  * (deliberate zstd-frame checkpoints for parallel slicing), and
  * `.bloom` (Filter.db — the point-lookup key filter). All three are
  * written by the sink at task commit, then moved and retired together
  * through [[Sidecars]]. Split from `ProtoZstSource.scala` along the
  * metadata/scan seam.
  */
/** The sidecar SET as one unit: every per-file sidecar lives and dies
  * with its data file, so every maintenance rename and every GC path
  * goes through this one move/delete pair.
  */
object Sidecars {
  import org.apache.hadoop.fs.{FileSystem, Path}

  private def all(data: Path): Seq[Path] = Seq(RangeSidecar.sidecar(data),
    SplitSidecar.sidecar(data), BloomSidecar.sidecar(data))

  /** Best-effort move beside a data-file rename: a missing or refused
    * sidecar only costs its skip/slice power (the manifest carries the
    * stats), never correctness.
    */
  def move(fs: FileSystem, src: Path, dst: Path): Unit =
    all(src).zip(all(dst)).foreach { case (s, d) =>
      try fs.rename(s, d) catch { case _: Exception => () }
    }

  def delete(fs: FileSystem, data: Path): Unit =
    all(data).foreach(fs.delete(_, false))
}

/** Per-file key-range sidecar (`<file>.range`): the min and max key the
  * file contains, hex-encoded. The engine analog of the reference's
  * index summary (`SSTableReaderPatched.java:221-233` — the structure
  * that lets it SEEK to a key range instead of scanning): written by
  * every sink task at commit time beside the manifest entry carrying
  * the same stats. Only the listing view reads it
  * ([[ManifestIndex.fromSidecars]]), for reads without a manifest.
  * Files without a sidecar (foreign writers, older sinks) are simply
  * never skipped — absence degrades to a full scan, not an error.
  */
object RangeSidecar {
  import org.apache.hadoop.fs.{FileSystem, Path}

  def sidecar(data: Path): Path =
    new Path(data.getParent, data.getName + ".range")

  private def hex(b: Array[Byte]): String =
    b.map(x => "%02x".format(x & 0xff)).mkString
  private def unhex(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  /** min key, max key, whether the file's rows arrived key-sorted
    * (the writer observes this for free while tracking min/max; the
    * scan may only report per-partition ordering for files that RECORD
    * sortedness — a foreign or unsorted write must degrade the report,
    * never corrupt a sort-assuming merge join), the file's total
    * row count (-1 when the sidecar predates the count line), and
    * whether the sidecar's VERSION attests null-key NORMALIZATION
    * (header v2): v2 writers fold null keys into the range/sort
    * tracking as their on-wire empty form, so v2 ranges cover every
    * row a read decodes. A v1 sidecar may have been written by a
    * pre-normalization build that EXCLUDED null-key rows from
    * min/max/sortedness while counting them — its range can miss rows
    * that now read back as empty keys — so range-dependent metadata
    * answers (MIN/MAX pushdown, file skipping, sort attestation)
    * trust only v2; counts stay trusted at both versions. The count
    * feeds aggregate pushdown: COUNT(*)/MIN(key)/MAX(key) over a
    * directory can be answered from sidecars alone, no frame ever
    * decompressed.
    */
  final case class Range(min: Array[Byte], max: Array[Byte],
      sorted: Boolean, count: Long = -1L, normalized: Boolean = false)

  def write(fs: FileSystem, data: Path,
      min: Array[Byte], max: Array[Byte], sorted: Boolean,
      count: Long): Unit = {
    val os = fs.create(sidecar(data), true)
    val s = if (sorted) 1 else 0
    try os.write(s"v2\n${hex(min)}\n${hex(max)}\n$s\n$count\n".getBytes("UTF-8"))
    finally os.close()
  }

  /** None for missing or unreadable sidecars — skipping is strictly
    * best-effort. Short (pre-sorted-flag / pre-count) sidecars read as
    * unsorted / count-unknown, which are the safe directions; v1
    * headers read as un-normalized (see [[Range]]).
    */
  def read(fs: FileSystem, data: Path): Option[Range] = {
    MetaIO.sidecarReads.incrementAndGet()
    try {
      val p = sidecar(data)
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val txt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
        val ls = txt.split("\n", -1)
        if (ls.length >= 3 && (ls(0) == "v1" || ls(0) == "v2"))
          Some(Range(unhex(ls(1)), unhex(ls(2)),
            ls.length >= 4 && ls(3) == "1",
            if (ls.length >= 5) ls(4).toLongOption.getOrElse(-1L) else -1L,
            normalized = ls(0) == "v2"))
        else None
      }
    } catch { case _: Exception => None }
  }
}

/** Per-file zstd-frame checkpoint sidecar (`<file>.split`): compressed
  * byte offsets where a new frame starts, with the row count before
  * each — what lets the scan SLICE a large file into parallel
  * partitions instead of handing a 10 GB file to one task (parquet
  * gets this from row groups; a zstd stream needs the writer to end
  * frames deliberately, which the sink does every `splitFrameRows`
  * rows). Absence degrades to one-partition-per-file, never an error;
  * a slice boundary is ALWAYS a frame boundary, so slices decode
  * independently and partition the rows exactly.
  */
object SplitSidecar {
  import org.apache.hadoop.fs.{FileSystem, Path}

  def sidecar(data: Path): Path =
    new Path(data.getParent, data.getName + ".split")

  /** v2 adds each boundary's FIRST KEY (hex; the first row written
    * after the frame ended) — which turns the slice checkpoints of a
    * KEY-SORTED file into a frame-grain key index: the reference's
    * Index.db `(key, position)` pairs
    * (`SSTableReaderPatched.java:54-97` walks exactly that file to
    * seek), at the granularity the zstd stream can actually restart
    * at. Point lookups then decode ONE frame instead of the file (see
    * `ProtoZstScan.seekPlan`); v1 sidecars (and boundaries whose next
    * row had a null key, hex "") keep slicing and fall back to a full
    * scan for seeks. Write-time cost: one key reference per
    * `splitFrameRows` rows.
    */
  def write(fs: FileSystem, data: Path,
      checkpoints: Seq[(Long, Long, String)]): Unit = {
    val os = fs.create(sidecar(data), true)
    // version bump only when the bump buys something: a sidecar whose
    // boundaries carry NO keys (every first row null-keyed) encodes
    // nothing v1 cannot, so stamp v1 and keep pre-v2 engines' slicing
    // — the same conditional-format discipline the manifest's tomb
    // records follow (v1 when tomb-free, v2 only when v2 semantics
    // are actually present)
    val body =
      if (checkpoints.exists(_._3.nonEmpty))
        checkpoints.map { case (off, rows, keyHex) =>
          s"$off $rows $keyHex" }.mkString("v2\n", "\n", "\n")
      else
        checkpoints.map { case (off, rows, _) =>
          s"$off $rows" }.mkString("v1\n", "\n", "\n")
    try os.write(body.getBytes("UTF-8")) finally os.close()
  }

  /** Byte offsets + row counts for SLICING — reads v1 and v2 alike;
    * None for missing/unreadable sidecars (slicing is best-effort).
    */
  def read(fs: FileSystem, data: Path): Option[Array[(Long, Long)]] =
    readKeyed(fs, data).map(_.map(c => (c._1, c._2)))

  /** Full boundary triples (offset, rows before it, first-key hex) —
    * the hex is "" for every v1 boundary and for null-key rows, which
    * disables seeking but never slicing.
    */
  def readKeyed(fs: FileSystem, data: Path): Option[Array[(Long, Long, String)]] =
    try {
      val p = sidecar(data)
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val txt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
        val ls = txt.split("\n", -1).filter(_.nonEmpty)
        if (ls.isEmpty || (ls(0) != "v1" && ls(0) != "v2")) None
        else Some(ls.drop(1).map { l =>
          val f = l.split(" ", 3)
          (f(0).toLong, f(1).toLong, if (f.length >= 3) f(2) else "")
        })
      }
    } catch { case _: Exception => None }
}

/** Per-file KEY BLOOM FILTER sidecar (`<file>.bloom`) — the engine's
  * Filter.db: Cassandra consults a per-SSTable bloom before touching
  * the file on every point read, and this is the same move for the
  * proto-zst format. (The reference's table schema carries
  * `bloom_filter_fp_chance` precisely because its SSTables ship one —
  * `SSTableReader.java:30` — though its own bulk-scan path never
  * point-reads; this engine's q208/q214 "does this hash exist" reads
  * do, constantly.) The sink sets [[K]] bits per key into a
  * fixed-[[Bits]] filter while writing (observed free — the key bytes
  * are already in hand); a point-lookup scan (a pushed `key =` / `IN`
  * predicate, see [[KeyPredicate.pointKeys]]) probes the sidecar on
  * the DRIVER while planning and drops every file for which no
  * candidate key can be present — no partition, no decode.
  *
  * Why driver-side, beside the manifest rather than in it: folding
  * 16 KB of bloom per entry into the manifest would trade away its
  * one-tiny-read planning (every delta and checkpoint would carry
  * megabytes), so the probe reads the sidecar — but only for files
  * the manifest's range and time skip kept, and only for point
  * lookups. The trade is one ~16 KB `.bloom` read per range-surviving
  * file at planning, against one task per such file at execution:
  * a point get the blooms rule out plans zero partitions and runs no
  * Spark job at all. Range skip already prunes most files for SORTED
  * layouts; the bloom earns its keep exactly where ranges cannot —
  * content-addressed (hash-keyed) exports whose per-epoch files all
  * span the full key space, where every file pays the probe (the
  * O(files) driver read is the cost of such a layout's point get).
  *
  * Geometry is FIXED (2^17 bits, 3 probes) rather than sized per
  * file: the writer streams rows and cannot size a bloom it has
  * already started filling. At the sink's epoch/frame file sizes
  * (10³–10⁴ keys) the false-positive rate is ≤~0.1%; a multi-million-
  * key compacted file saturates toward "always maybe" — which only
  * degrades the skip back to a normal scan, never drops a row.
  * Absence (foreign files, older sinks) degrades the same way.
  */
object BloomSidecar {
  import org.apache.hadoop.fs.{FileSystem, Path}

  val Bits = 1 << 17
  val Words: Int = Bits / 64
  val K = 3

  def sidecar(data: Path): Path =
    new Path(data.getParent, data.getName + ".bloom")

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

  def write(fs: FileSystem, data: Path, words: Array[Long]): Unit = {
    val os = fs.create(sidecar(data), true)
    val buf = java.nio.ByteBuffer.allocate(words.length * 8)
    words.foreach(buf.putLong)
    try {
      os.write(s"v1 $Bits $K\n".getBytes("UTF-8"))
      os.write(buf.array())
    } finally os.close()
  }

  /** None for missing/unreadable/foreign-geometry sidecars — the skip
    * is strictly best-effort; absence degrades to scanning.
    */
  def read(fs: FileSystem, data: Path): Option[Array[Long]] =
    try {
      val p = sidecar(data)
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val bytes = try in.readAllBytes() finally in.close()
        val nl = bytes.indexOf('\n'.toByte)
        if (nl < 0) None
        else {
          val hdr = new String(bytes, 0, nl, "UTF-8").split(" ")
          if (hdr.length != 3 || hdr(0) != "v1" || hdr(1).toInt != Bits ||
              hdr(2).toInt != K || bytes.length - nl - 1 != Words * 8) None
          else {
            val buf = java.nio.ByteBuffer.wrap(bytes, nl + 1, Words * 8)
            Some(Array.fill(Words)(buf.getLong))
          }
        }
      }
    } catch { case _: Exception => None }
}
