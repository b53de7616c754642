package convbench

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.functions.ProtoWire.{proto_delimited, proto_row}
import graft.sources.{ProtoZstFiles, SplitSidecar}

/** One materialisation of a ladder step, with its listener deltas. */
final case class Step(ms: Double, counts: Counts, queries: Seq[QueryDone])

/** The conversion ladder: cumulative prefixes of the export pipeline,
  * each materialised to Spark's `noop` sink — scan; + liveness filter;
  * + `nestCells`; + `proto_row`/`proto_delimited`; then the full
  * `Sink.writeNested`. Adjacent differences of the median step times
  * are the layers' self times.
  */
object Ladder {
  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def step(ctx: Ctx, name: String, op: Long)(f: => Unit): Step = {
    val p = new Probe(ctx)
    p(ctx.tracer.span(name, op)(f))
    Step(p.lastMs, p.counts, p.queries.toSeq)
  }

  /** One repetition over `cells`; its last step converts into `out`. */
  def rep(ctx: Ctx, cells: () => DataFrame, out: File): Seq[Step] = {
    val op = ctx.nextOp()
    ctx.tracer.span("ladder", op)(Seq(
      step(ctx, "parquet.scan", op)(noop(cells())),
      step(ctx, "CellModel.filter", op)(noop(Pipeline.liveFilter(cells()))),
      step(ctx, "CellModel.nest", op)(noop(Pipeline.nest(cells()))),
      step(ctx, "ProtoWire.encode", op)(noop(Pipeline.nest(cells()).select(
        proto_delimited(proto_row(col("key"), col("columns"))).as("framed")))),
      step(ctx, "ProtoZstSink.write", op)(Pipeline.write(Pipeline.nest(cells()), out))))
  }

  /** Self time of each step in seconds, from the median step times. */
  def selfSeconds(reps: Seq[Seq[Step]]): IndexedSeq[Double] = {
    val med = reps.head.indices.map(i => Stats.median(reps.map(_(i).ms)) / 1e3)
    med.indices.map(i => if (i == 0) med(0) else med(i) - med(i - 1))
  }

  /** The conversion layers' metrics, `out` being the last output. */
  def layers(reps: Seq[Seq[Step]], out: File): Seq[(String, Double)] = {
    val self = selfSeconds(reps)
    val filterQ = reps.flatMap(_(1).queries)
    val scanned = filterQ.flatMap(_.rowsOut("Scan")).sum
    val kept = filterQ.flatMap(_.rowsOut("Filter")).sum
    val nest = reps.map(_(2).counts)
    val files = Files.dataFiles(out)
    val fs = new org.apache.hadoop.fs.Path(out.getPath).getFileSystem(ProtoZstFiles.hadoopConf())
    val frames = files.map(f => SplitSidecar.read(fs,
      new org.apache.hadoop.fs.Path(f.getPath)).fold(1)(_.length)).sum
    Seq(
      "parquet.scan.self_s" -> self(0),
      "CellModel.filter.self_s" -> self(1),
      "CellModel.filter.live_share" -> (if (scanned > 0) kept.toDouble / scanned else 0.0),
      "CellModel.nest.self_s" -> self(2),
      "CellModel.nest.shuffle_bytes" -> Stats.median(nest.map(_.shuffleWrite.toDouble)),
      "CellModel.nest.spill_bytes" -> Stats.median(nest.map(_.spill.toDouble)),
      "ProtoWire.encode.self_s" -> self(3),
      "ProtoZstSink.write.self_s" -> self(4),
      "ProtoZstSink.write.mb_per_s" -> Files.bytes(out) / 1e6 / self(4),
      "ProtoZstSink.write.files" -> files.length.toDouble,
      "ProtoZstSink.write.frames" -> frames.toDouble)
  }
}
