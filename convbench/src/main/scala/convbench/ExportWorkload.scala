package convbench

import java.io.File

import org.apache.spark.sql.DataFrame

import graft.sources.{GenManifest, ProtoZstFiles}

/** `export`: the reference's only job. Each repetition converts the
  * generated cell table (parquet) with liveness filter → `nestCells` →
  * `Sink.writeNested` (encode, zstd, sidecars, manifest commit) into a
  * fresh directory, then checks the output's stored bytes against the
  * generator. Nothing is decoded inside the timed part.
  *
  * Traced, each repetition is the [[Ladder]] over the same table.
  */
final class ExportWorkload extends Workload {
  val Cells = 1000000
  val parts: Int = Gen.partsFor(Cells)

  private var input: File = _
  private var expect: Expect = _
  private var outNo = 0

  def prepare(ctx: Ctx): Unit = {
    input = new File(ctx.sub("export"), "cells.parquet")
    Pipeline.cells(ctx.spark, ctx.seed, parts, ctx.cores * 4).write.parquet(input.getPath)
    expect = Pipeline.expect(ctx.seed, parts, ctx.cores)
  }

  private def cells(ctx: Ctx): DataFrame = ctx.spark.read.parquet(input.getPath)

  private def freshOut(ctx: Ctx): File = {
    outNo += 1
    new File(ctx.sub("export"), s"out-$outNo")
  }

  private def convert(ctx: Ctx, out: File): Unit =
    Pipeline.write(Pipeline.nest(cells(ctx)), out)

  /** The check after each conversion: the engine's decoded output must
    * carry exactly the generator's live rows, cells and bytes.
    */
  private def verify(ctx: Ctx, out: File): Boolean =
    Pipeline.verify(ctx, s"export ${out.getName}", out, expect.digest)

  def warm(ctx: Ctx): Unit = {
    val first = freshOut(ctx)
    convert(ctx, first)
    verify(ctx, first)
    val second = freshOut(ctx)
    convert(ctx, second)
    Seq(first, second).foreach(Files.delete)
  }

  def run(ctx: Ctx, rep: Report): Unit =
    if (ctx.trace) ladder(ctx, rep) else plain(ctx, rep)

  private def plain(ctx: Ctx, rep: Report): Unit = {
    val end = Time.deadline(ctx.seconds)
    val ms = Seq.newBuilder[Double]
    var outBytes = 0L
    var n = 0
    while (Time.before(end) || n < 3) {
      val out = freshOut(ctx)
      ms += Time.ms(convert(ctx, out))._2
      verify(ctx, out)
      outBytes = Files.bytes(out)
      Files.delete(out)
      n += 1
    }
    val conv = ms.result()
    rep.endToEnd ++= Seq(
      "cells_per_s" -> expect.inputCells / (Stats.median(conv) / 1e3),
      "bytes_out_per_user_byte" -> outBytes.toDouble / expect.userBytes,
      "op_p50_ms" -> Stats.median(conv))
    rep.detail ++= Seq("conversions" -> conv.length, "conversion_ms" -> conv,
      "input_cells" -> expect.inputCells, "live_rows" -> expect.digest.rows,
      "live_cells" -> expect.digest.cells, "user_bytes" -> expect.userBytes,
      "out_bytes" -> outBytes)
  }

  private def ladder(ctx: Ctx, rep: Report): Unit = {
    // one untimed repetition first: the noop-sink prefixes run jobs the
    // warm-up never ran, and their first pass pays JIT
    val warmOut = freshOut(ctx)
    Ladder.rep(ctx, () => cells(ctx), warmOut)
    Files.delete(warmOut)
    val end = Time.deadline(ctx.seconds)
    val reps = Seq.newBuilder[Seq[Step]]
    val plainMs = Seq.newBuilder[Double]
    var totals = Counts.Zero
    val meta0 = Meta.snap()
    var out: File = null
    var n = 0
    while (Time.before(end) || n < 2) {
      if (out != null) Files.delete(out)
      out = freshOut(ctx)
      val r = Ladder.rep(ctx, () => cells(ctx), out)
      reps += r
      totals = r.map(_.counts).foldLeft(totals)(_ + _)
      verify(ctx, out)
      // the same conversion untraced, for the tracing overhead
      val plainOut = freshOut(ctx)
      ctx.settle()
      plainMs += Time.ms(convert(ctx, plainOut))._2
      Files.delete(plainOut)
      n += 1
    }
    val meta = Meta.snap() - meta0
    val all = reps.result()
    val conversion = Ladder.layers(all, out)
    val self = conversion.toMap

    // floors over the same rows and bytes
    val rows = Floors.encoderRows(Gen.slicePids(parts, 1, 0)
      .flatMap(pid => Gen.part(ctx.seed, parts, pid).expected))
    val encodeFloor = Floors.encodeSeconds(rows, ctx.cores)
    val raw = Files.dataFiles(out).map(Floors.decompress)
    val zstdFloor = Floors.compressSeconds(raw, ctx.cores)
    val conf = ProtoZstFiles.hadoopConf()
    val readMs = (1 to 5).map(_ => Time.ms(GenManifest.read(out.getPath, conf))._2)

    rep.layers ++= conversion
    rep.layers ++= Seq(
      "ProtoWire.encode.floor_ratio" -> self("ProtoWire.encode.self_s") / encodeFloor,
      "ProtoZstSink.write.floor_ratio" -> self("ProtoZstSink.write.self_s") / zstdFloor,
      "GenManifest.read_ms" -> Stats.median(readMs),
      // two conversions (traced and plain) commit per repetition
      "GenManifest.commit_bytes" -> meta.commitBytes.toDouble / (2 * n),
      "GenManifest.checkpoint_bytes" -> meta.checkpointBytes.toDouble / (2 * n),
      "GenManifest.live_files" ->
        GenManifest.read(out.getPath, conf).fold(0)(_.entries.length).toDouble,
      "GenManifest.reads_per_op" -> meta.manifestReads.toDouble / n,
      "trace.overhead_ms" ->
        (Stats.median(all.map(_.last.ms)) - Stats.median(plainMs.result())))
    Catalogue.spark(rep, totals, n)
    rep.detail ++= Seq("ladder_reps" -> n,
      "ladder_self_s" -> Ladder.selfSeconds(all), "encode_floor_s" -> encodeFloor,
      "zstd_floor_s" -> zstdFloor, "raw_wire_bytes" -> raw.map(_.length.toLong).sum,
      "out_bytes" -> Files.bytes(out))
    Sweep(ctx, rep, out)
    Files.delete(out)
  }
}
