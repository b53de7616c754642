package convbench

import java.io.File
import java.util.SplittableRandom

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

import graft.sources.{GenManifest, ProtoZstFiles}

/** `read`: a closed loop of one client against a generation written
  * during set-up (key-sorted into a few files at the default frame
  * size). The mix per cycle: point gets (half on present keys drawn
  * Zipf-skewed, half on absent keys inside the key range), one
  * key-range scan over ~1% of the keys, and one full decode of the
  * generation to the `noop` sink. Every get and scan is checked against
  * the generator (zero rows for an absent key); every full decode's row
  * count is checked, and one full decode's stored bytes after the loop.
  */
final class ReadWorkload extends Workload {
  val Cells = 300000 // the sweep's ladder table has this size too
  val parts: Int = Gen.partsFor(Cells)
  val Files_ = 4
  val GetsPerCycle = 8
  val RangeKeys: Int = parts / 100

  private var gen: File = _
  private var expect: Expect = _
  private lazy val zipf = new Gen.Zipf(parts, 1.1)

  def prepare(ctx: Ctx): Unit = {
    gen = new File(ctx.sub("read"), "gen")
    val cells = Pipeline.cells(ctx.spark, ctx.seed, parts, ctx.cores * 4).toDF()
    Pipeline.write(Pipeline.nest(cells)
      .repartitionByRange(Files_, col("key")).sortWithinPartitions(col("key")), gen)
    expect = Pipeline.expect(ctx.seed, parts, ctx.cores)
  }

  private def source(ctx: Ctx): DataFrame =
    ctx.spark.read.format("proto-zst").load(gen.getPath)

  /** One point get; returns its latency. */
  private def get(ctx: Ctx, r: SplittableRandom, op: Long): Double = {
    val pid = zipf.draw(r)
    val present = r.nextBoolean()
    val key = if (present) Gen.key(pid) else Gen.absentKey(pid)
    val (rows, ms) = Time.ms(ctx.tracer.span("ProtoZstSource.get", op) {
      Pipeline.get(ctx.spark, gen, key)
    })
    val want = if (present) Gen.part(ctx.seed, parts, pid).expected.toSeq else Nil
    ctx.check(s"read get ${new String(key)}") {
      Digest.ofRows(rows.iterator) == Digest.ofRows(want.iterator)
    }
    ms
  }

  /** One key-range scan over `RangeKeys` partitions; returns latency. */
  private def range(ctx: Ctx, r: SplittableRandom, op: Long): Double = {
    val lo = r.nextInt(parts - RangeKeys)
    val hi = lo + RangeKeys
    val (rows, ms) = Time.ms(ctx.tracer.span("ProtoZstSource.range", op) {
      source(ctx).filter(col("key") >= lit(Gen.key(lo)) && col("key") < lit(Gen.key(hi)))
        .collect()
    })
    val want = Iterator.range(lo, hi).flatMap(p => Gen.part(ctx.seed, parts, p).expected)
    ctx.check(s"read range $lo-$hi") {
      Digest.ofRows(rows.iterator.map(Pipeline.rowOf)) == Digest.ofRows(want)
    }
    ms
  }

  /** One full decode to the noop sink; returns latency. The row count
    * comes from the scan node's SQL metric.
    */
  private def full(ctx: Ctx, op: Long): Double = {
    ctx.settle()
    val (_, ms) = Time.ms(ctx.tracer.span("ProtoZstSource.decode", op) {
      source(ctx).write.format("noop").mode("overwrite").save()
    })
    val rows = ctx.drain().flatMap(_.rowsOut("BatchScan")).sum
    ctx.check("read full decode") {
      if (rows != expect.digest.rows)
        ctx.failures += s"read full decode: $rows rows, expected ${expect.digest.rows}"
      rows == expect.digest.rows
    }
    ms
  }

  def warm(ctx: Ctx): Unit = {
    val r = new SplittableRandom(ctx.seed ^ 0x7e57L)
    (1 to 3).foreach { _ =>
      (1 to 10).foreach(_ => get(ctx, r, 0)); range(ctx, r, 0); full(ctx, 0)
    }
  }

  def run(ctx: Ctx, rep: Report): Unit = {
    val r = new SplittableRandom(ctx.seed)
    val gets, plainGets, ranges, fulls = Seq.newBuilder[Double]
    val probe = new Probe(ctx)
    val meta0 = Meta.snap()
    val c0 = ctx.counters.snap()
    var ops = 0
    val end = Time.deadline(ctx.seconds)
    while (Time.before(end) || ops < 3) {
      (1 to GetsPerCycle).foreach { i =>
        val op = ctx.nextOp()
        // traced runs alternate traced and untraced gets: the median
        // difference is the tracing overhead
        if (ctx.trace && i % 2 == 0) gets += probe(get(ctx, r, op))
        else if (ctx.trace) plainGets += get(ctx, r, op)
        else gets += get(ctx, r, op)
      }
      ranges += range(ctx, r, ctx.nextOp())
      fulls += full(ctx, ctx.nextOp())
      ops += GetsPerCycle + 2
    }
    val loopCounts = ctx.counters.snap() - c0
    val loopMeta = Meta.snap() - meta0
    val getMs = gets.result(); val rangeMs = ranges.result(); val fullMs = fulls.result()
    Pipeline.verify(ctx, "read final decode", gen, expect.digest)
    val fullS = Stats.median(fullMs) / 1e3
    rep.endToEnd ++= Seq(
      "cells_per_s" -> expect.digest.cells / fullS,
      "bytes_out_per_user_byte" -> Files.bytes(gen).toDouble / expect.userBytes,
      "op_p50_ms" -> Stats.median(getMs))
    val getTail = Stats.tail(getMs)
    rep.detail ++= Seq("gets" -> getMs.length, "get_p50_ms" -> Stats.median(getMs),
      "get_tail" -> getTail.map { case (p, v) => Map("pct" -> p, "ms" -> v) },
      "ranges" -> rangeMs.length, "range_p50_ms" -> Stats.median(rangeMs),
      "full_decodes" -> fullMs.length, "scan_rows_per_s" -> expect.digest.rows / fullS,
      "input_cells" -> expect.inputCells, "live_rows" -> expect.digest.rows,
      "live_cells" -> expect.digest.cells, "gen_bytes" -> Files.bytes(gen))
    if (ctx.trace) {
      val conf = ProtoZstFiles.hadoopConf()
      val readMs = (1 to 5).map(_ => Time.ms(GenManifest.read(gen.getPath, conf))._2)
      val decodeFloor = Floors.decodeSeconds(Files.dataFiles(gen), ctx.cores)
      rep.layers ++= Seq(
        "GenManifest.read_ms" -> Stats.median(readMs),
        "GenManifest.live_files" -> GenManifest.read(gen.getPath, conf)
          .fold(0)(_.entries.length).toDouble,
        "GenManifest.reads_per_op" -> loopMeta.manifestReads.toDouble / ops,
        "ProtoZstSource.decode.self_s" -> fullS,
        "ProtoZstSource.decode.rows_per_s" -> expect.digest.rows / fullS,
        "ProtoZstSource.decode.floor_ratio" -> fullS / decodeFloor,
        "trace.overhead_ms" -> (Stats.median(getMs) - Stats.median(plainGets.result())))
      rep.layers ++= probe.getLayers
      Catalogue.spark(rep, loopCounts, ops)
      rep.detail("decode_floor_s") = decodeFloor
      Sweep(ctx, rep, gen)
    }
  }
}
