package convbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

/** One flat cell of the Cassandra cell model (FIXTURES.md §A), with the
  * column names `graft.operators.CellModel.nestCells` expects.
  */
final case class FlatCell(key: Array[Byte], name: Array[Byte],
    value: Array[Byte], write_time: Long, kind: String,
    partition_deleted: Boolean)

/** One column of a nested row, positional like the proto `Column`. */
final case class NestedCol(name: Array[Byte], value: Array[Byte],
    write_time: Long)

/** One nested row: a partition key and its live cells in name order. */
final case class NestedRow(key: Array[Byte], columns: Seq[NestedCol])

/** A generated partition: its key, its tombstone flag and every cell. */
final case class Part(pid: Int, key: Array[Byte], deleted: Boolean,
    cells: Array[FlatCell]) {
  def live: Array[FlatCell] = cells.filter(_.kind == "live")
  /** The row the conversion must produce; None for a tombstoned one. */
  def expected: Option[NestedRow] =
    if (deleted) None
    else Some(NestedRow(key, live.toSeq.map(c =>
      NestedCol(c.name, c.value, c.write_time))))
}

/** Seeded generator of the cell model. Every partition draws from its
  * own `SplittableRandom(seed, pid)` stream, so any partition can be
  * regenerated alone (the read oracle does that per get) and any
  * slicing of the partition ids yields the same table.
  *
  * Shape: Zipf-skewed partition sizes (Pareto tail, capped) plus a few
  * 10k–15k-cell mega-partitions; ~2% of partitions carry a partition
  * tombstone; ~70% of cells are live and the rest deleted, expiring or
  * counter cells; values are short text-like strings with ~1% 1–4 KB
  * blobs.
  *
  * Keys are `p` + 9 decimal digits of `2 * pid`, so byte order is pid
  * order and every odd number is a key that is absent but inside the
  * key range.
  */
object Gen {
  val LiveShare = 0.70
  val TombstonedShare = 0.02
  val BlobShare = 0.01
  val MegaCount = 3
  val BaseTimeUs = 1700000000000000L

  private val Words = ("lorem ipsum dolor sit amet consectetur adipiscing " +
    "elit sed do eiusmod tempor incididunt ut labore et dolore magna " +
    "aliqua enim ad minim veniam quis nostrud exercitation ullamco " +
    "laboris nisi aliquip ex ea commodo consequat duis aute irure in " +
    "reprehenderit voluptate velit esse cillum fugiat nulla pariatur " +
    "excepteur sint occaecat cupidatat non proident sunt culpa qui " +
    "officia deserunt mollit anim id est laborum").split(' ')

  def key(pid: Int): Array[Byte] = padded('p', 2L * pid, 9)
  def absentKey(pid: Int): Array[Byte] = padded('p', 2L * pid + 1, 9)

  /** `prefix` followed by `n` in `width` zero-padded decimal digits. */
  def padded(prefix: Char, n: Long, width: Int): Array[Byte] = {
    val b = new Array[Byte](width + 1)
    b(0) = prefix.toByte
    var v = n
    var i = width
    while (i > 0) { b(i) = ('0' + (v % 10)).toByte; v /= 10; i -= 1 }
    b
  }

  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(Digest.mix(seed * 0x9E3779B97F4A7C15L + stream))

  /** Mega-partitions sit at fixed, spread-out pids. */
  def isMega(pid: Int, parts: Int): Boolean =
    parts >= 4 * MegaCount && pid % (parts / MegaCount) == parts / (2 * MegaCount)

  private def cellCount(r: SplittableRandom, mega: Boolean): Int =
    if (mega) 10000 + r.nextInt(5000)
    else {
      // Pareto(xm = 2, alpha = 1.5) truncated at 2000: mean ~5 cells
      val u = 1.0 - r.nextDouble()
      math.min(2000, (2.0 / math.pow(u, 1.0 / 1.5)).toInt)
    }

  def textValue(r: SplittableRandom): Array[Byte] = {
    val sb = new StringBuilder
    val n = 1 + r.nextInt(6)
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      sb.append(Words(r.nextInt(Words.length)))
      i += 1
    }
    if (r.nextInt(4) == 0) sb.append(' ').append(r.nextInt(100000))
    sb.toString.getBytes(UTF_8)
  }

  /** A 1–4 KB blob: text-like runs mixed with random hex, so it
    * compresses partly — never all-random, never constant.
    */
  def blobValue(r: SplittableRandom): Array[Byte] = {
    val len = 1024 + r.nextInt(3072)
    val sb = new StringBuilder(len + 16)
    while (sb.length < len) {
      if (r.nextInt(10) < 7) sb.append(Words(r.nextInt(Words.length))).append(' ')
      else sb.append(java.lang.Long.toHexString(r.nextLong())).append(' ')
    }
    sb.setLength(len)
    sb.toString.getBytes(UTF_8)
  }

  private def value(r: SplittableRandom): Array[Byte] =
    if (r.nextDouble() < BlobShare) blobValue(r) else textValue(r)

  private def kind(r: SplittableRandom): String = {
    val d = r.nextDouble()
    if (d < LiveShare) "live"
    else if (d < LiveShare + 0.10) "deleted"
    else if (d < LiveShare + 0.20) "expiring"
    else "counter"
  }

  def part(seed: Long, parts: Int, pid: Int): Part = {
    val r = rng(seed, pid.toLong)
    val k = key(pid)
    val deleted = r.nextDouble() < TombstonedShare
    val n = cellCount(r, isMega(pid, parts))
    var nameNo = 0
    val cells = Array.tabulate(n) { _ =>
      // unique, ascending cell names with random gaps
      nameNo += 1 + r.nextInt(3)
      FlatCell(k, padded('c', nameNo, 7), value(r),
        BaseTimeUs + r.nextLong(1000000000000L), kind(r), deleted)
    }
    Part(pid, k, deleted, cells)
  }

  /** The pids of slice `s` out of `slices` (round-robin). */
  def slicePids(parts: Int, slices: Int, s: Int): Iterator[Int] =
    Iterator.range(s, parts, slices)

  /** Partition count giving about `cells` cells for this shape. */
  def partsFor(cells: Int): Int = math.max(4 * MegaCount, cells / 5)

  /** Ingest batches: keys are 16 hex digits of a hash of
    * (seed, batch, row), so every batch spans the whole key space and
    * the files of different batches overlap. Every row is live (an
    * ingest appends already-nested rows) and has 1–12 cells.
    */
  def ingestRow(seed: Long, batch: Int, row: Int): NestedRow = {
    val r = rng(seed ^ 0x5bd1e995L, (batch.toLong << 20) | row)
    val k = ("h" + f"${r.nextLong()}%016x").getBytes(UTF_8)
    val n = 1 + r.nextInt(12)
    var nameNo = 0
    NestedRow(k, Seq.fill(n) {
      nameNo += 1 + r.nextInt(3)
      NestedCol(padded('c', nameNo, 7), value(r),
        BaseTimeUs + r.nextLong(1000000000000L))
    })
  }

  /** The read workload's Zipf-skewed draw of a partition: rank by
    * Zipf(1.1) over `parts`, mapped to a pid by a fixed odd multiplier
    * so the hot ranks spread over the key range.
    */
  final class Zipf(parts: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(parts)(i => 1.0 / math.pow(i + 1.0, s))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def draw(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      val rank = if (i >= 0) i else math.min(-i - 1, parts - 1)
      ((rank.toLong * 2654435761L) % parts).toInt
    }
  }
}

/** Order-independent digest of a table's stored bytes: live-row count,
  * cell count and a wrapping sum of per-cell and per-key hashes over
  * (key, name, value, writeTime). Built the same way from the
  * generator's expectation and from the engine's decoded output.
  */
final case class Digest(rows: Long, cells: Long, sum: Long) {
  def +(o: Digest): Digest = Digest(rows + o.rows, cells + o.cells, sum + o.sum)
}

object Digest {
  val Zero: Digest = Digest(0, 0, 0)

  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def fnv(h0: Long, b: Array[Byte]): Long = {
    var h = (h0 ^ b.length) * 0x100000001B3L
    var i = 0
    while (i < b.length) {
      h = (h ^ (b(i) & 0xff)) * 0x100000001B3L
      i += 1
    }
    h
  }

  def cellHash(key: Array[Byte], name: Array[Byte], value: Array[Byte],
      writeTime: Long): Long =
    mix(fnv(fnv(fnv(0xCBF29CE484222325L, key), name), value) ^ mix(writeTime))

  def keyHash(key: Array[Byte]): Long = mix(fnv(0x84222325CBF29CE4L, key))

  def ofRow(key: Array[Byte], cols: Iterator[(Array[Byte], Array[Byte], Long)]): Digest = {
    var sum = keyHash(key)
    var n = 0L
    cols.foreach { case (nm, v, t) => sum += cellHash(key, nm, v, t); n += 1 }
    Digest(1, n, sum)
  }

  def of(row: NestedRow): Digest =
    ofRow(row.key, row.columns.iterator.map(c => (c.name, c.value, c.write_time)))

  def ofRows(rows: Iterator[NestedRow]): Digest =
    rows.foldLeft(Zero)((d, r) => d + of(r))
}
