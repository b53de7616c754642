package convbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.operators.{SinkMaintain, Tombstones}
import graft.sources.{GenManifest, ProtoZstFiles}

/** `ingest`: many small appends to one generation through
  * `Sink.writeNested`. Batch keys are hashed across the whole key space,
  * so every file's key range overlaps every other's and only the bloom
  * sidecars can prune a get. Every `EraseEvery` appends the loop erases
  * keys with `Tombstones.eraseKeys`; after each append it gets one key
  * (see `getKey`); every `OptimizeEvery` commits it runs
  * `SinkMaintain.optimizeSink`. A run
  * spans several manifest checkpoint cycles
  * (`GenManifest.CheckpointEvery` commits each) and several OPTIMIZE
  * cycles. The final table must equal the appends minus the erasures.
  */
final class IngestWorkload extends Workload {
  val RowsPerBatch = 500
  val EraseEvery = 2
  val EraseKeys = 20
  val OptimizeEvery = 8
  val OptimizeTarget: Long = 4L << 20

  private var table: File = _
  private var batch = 0
  private var commits = 0
  /** Oracle state: live keys → (batch, row), and erased keys. */
  private val live = mutable.LinkedHashMap.empty[String, (Int, Int)]
  private val liveKeys = mutable.ArrayBuffer.empty[String]
  private val erased = mutable.ArrayBuffer.empty[String]
  private var appendedCells = 0L

  def prepare(ctx: Ctx): Unit = {
    table = new File(ctx.sub("ingest"), "gen")
    append(ctx)
  }

  private def conf = ProtoZstFiles.hadoopConf()

  private def batchDf(ctx: Ctx, b: Int): DataFrame = {
    import ctx.spark.implicits._
    val seed = ctx.seed
    val rows = RowsPerBatch
    ctx.spark.range(b.toLong, b + 1L, 1, 1).as[Long]
      .flatMap(bb => Iterator.range(0, rows).map(j => Gen.ingestRow(seed, bb.toInt, j)))
      .toDF()
  }

  private def rowOf(b: Int, j: Int, ctx: Ctx) = Gen.ingestRow(ctx.seed, b, j)

  /** One append of the next batch; returns its latency. */
  private def append(ctx: Ctx): Double = {
    batch += 1
    val b = batch
    val df = batchDf(ctx, b)
    val (_, ms) = Time.ms(ctx.tracer.span("Sink.writeNested", ctx.nextOp()) {
      Pipeline.write(df, table)
    })
    commits += 1
    (0 until RowsPerBatch).foreach { j =>
      val row = rowOf(b, j, ctx)
      val k = new String(row.key, "UTF-8")
      if (!live.contains(k)) liveKeys += k
      live(k) = (b, j)
      appendedCells += row.columns.length
    }
    ms
  }

  /** Erase `EraseKeys` random live keys; returns its latency. */
  private def erase(ctx: Ctx, r: SplittableRandom): Double = {
    val keys = (1 to EraseKeys).map { _ =>
      val i = r.nextInt(liveKeys.length)
      val k = liveKeys(i)
      liveKeys(i) = liveKeys.last; liveKeys.remove(liveKeys.length - 1)
      k
    }
    val (_, ms) = Time.ms(ctx.tracer.span("Tombstones.eraseKeys", ctx.nextOp()) {
      Tombstones.eraseKeys(table.getPath, keys.map(_.getBytes("UTF-8")))
    })
    commits += 1
    keys.foreach { k => live.remove(k); erased += k }
    ms
  }

  private def get(ctx: Ctx, key: String, op: Long): Double = {
    val (rows, ms) = Time.ms(ctx.tracer.span("ProtoZstSource.get", op) {
      Pipeline.get(ctx.spark, table, key.getBytes("UTF-8"))
    })
    val want = live.get(key).map { case (b, j) => rowOf(b, j, ctx) }.toSeq
    ctx.check(s"ingest get $key") {
      Digest.ofRows(rows.iterator) == Digest.ofRows(want.iterator)
    }
    ms
  }

  /** The key gotten after an append, cycling through a fresh key of
    * that batch, an erased key, an older live key and an absent key.
    */
  private def getKey(r: SplittableRandom, ctx: Ctx): String = batch % 4 match {
    case 0 => new String(rowOf(batch, r.nextInt(RowsPerBatch), ctx).key, "UTF-8")
    case 1 if erased.nonEmpty => erased(r.nextInt(erased.length))
    case 3 => "h" + f"${r.nextLong()}%016x"
    case _ => liveKeys(r.nextInt(liveKeys.length))
  }

  /** One OPTIMIZE; returns (ms, files packed, files written, bytes packed). */
  private def optimize(ctx: Ctx): (Double, Int, Int, Long) = {
    val small = GenManifest.read(table.getPath, conf).get.dataEntries
      .filter(_.bytes < OptimizeTarget)
    val ((before, after), ms) = Time.ms(ctx.tracer.span("SinkMaintain.optimizeSink",
      ctx.nextOp()) {
      SinkMaintain.optimizeSink(ctx.spark, table.getPath, OptimizeTarget)
    })
    commits += 1
    val packed = if (after == before) 0 else small.length
    (ms, packed, after - (before - packed), small.map(_.bytes).sum)
  }

  def warm(ctx: Ctx): Unit = {
    val r = new SplittableRandom(ctx.seed ^ 0x7e57L)
    (1 to 8).foreach { i =>
      append(ctx)
      if (i % EraseEvery == 0) erase(ctx, r)
      get(ctx, getKey(r, ctx), 0)
    }
    optimize(ctx)
  }

  /** Data files written by one append: (count, frames, bytes). */
  private def newFiles(before: Set[String]): (Int, Int, Long) = {
    val fresh = Files.dataFiles(table).filterNot(f => before(f.getName))
    val fs = new org.apache.hadoop.fs.Path(table.getPath).getFileSystem(conf)
    (fresh.length, fresh.map(f => graft.sources.SplitSidecar.read(fs,
      new org.apache.hadoop.fs.Path(f.getPath)).fold(1)(_.length)).sum,
      fresh.map(_.length).sum)
  }

  def run(ctx: Ctx, rep: Report): Unit = {
    val r = new SplittableRandom(ctx.seed)
    val appends, erases, gets, plainGets, commitMs = Seq.newBuilder[Double]
    val written = Seq.newBuilder[(Int, Int, Long, Double)]
    val opt = Seq.newBuilder[(Double, Int, Int, Long)]
    val probe = new Probe(ctx)
    val meta0 = Meta.snap()
    val c0 = ctx.counters.snap()
    val commits0 = commits
    var nextOptimize = commits + OptimizeEvery
    val cells0 = appendedCells
    var nAppends = 0
    var ops = 0
    val t0 = System.nanoTime()
    val end = Time.deadline(ctx.seconds)
    while (Time.before(end) || nAppends < 3) {
      if (ctx.trace) {
        val before = Files.dataFiles(table).map(_.getName).toSet
        val a = append(ctx)
        val (f, fr, b) = newFiles(before)
        appends += a; written += ((f, fr, b, a))
      } else appends += append(ctx)
      nAppends += 1; ops += 1
      if (nAppends % EraseEvery == 0) { erases += erase(ctx, r); ops += 1 }
      val op = ctx.nextOp()
      val k = getKey(r, ctx)
      // traced runs alternate traced and untraced gets, flipping the
      // phase every four appends so each key kind lands on both sides:
      // the median difference is the tracing overhead
      if (ctx.trace && (nAppends / 4) % 2 == 0) gets += probe(get(ctx, k, op))
      else if (ctx.trace) plainGets += get(ctx, k, op)
      else gets += get(ctx, k, op)
      ops += 1
      if (ctx.trace && nAppends % 4 == 0) {
        // manifest commit cost at the current live-file count: an
        // unchanged-entry-set commit, timed alone
        commitMs += Time.ms(ctx.tracer.span("GenManifest.commit", ctx.nextOp()) {
          GenManifest.commit(table.getPath, conf)(identity)
        })._2
        commits += 1
      }
      if (commits >= nextOptimize) {
        opt += optimize(ctx); ops += 1
        nextOptimize += OptimizeEvery
      }
    }
    val loopS = (System.nanoTime() - t0) / 1e9
    val totals = ctx.counters.snap() - c0
    val meta = Meta.snap() - meta0
    // a last OPTIMIZE after the timed loop, so the size figure sees a
    // packed table however many appends the deadline left unpacked
    opt += optimize(ctx)

    Pipeline.verify(ctx, "ingest final state", table,
      Digest.ofRows(live.valuesIterator.map { case (b, j) => rowOf(b, j, ctx) }))
    val userBytes = live.valuesIterator.map { case (b, j) =>
      Pipeline.userBytes(rowOf(b, j, ctx)) }.sum
    val appendMs = appends.result(); val eraseMs = erases.result(); val getMs = gets.result()
    val opts = opt.result()
    rep.endToEnd ++= Seq(
      "cells_per_s" -> (appendedCells - cells0) / loopS,
      "bytes_out_per_user_byte" -> Files.bytes(table).toDouble / userBytes,
      "op_p50_ms" -> Stats.median(appendMs))
    def tail(xs: Seq[Double]) = Stats.tail(xs).map { case (p, v) => Map("pct" -> p, "ms" -> v) }
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    rep.detail ++= Seq("appends" -> appendMs.length, "append_p50_ms" -> med(appendMs),
      "append_tail" -> tail(appendMs), "erases" -> eraseMs.length,
      "erase_p50_ms" -> med(eraseMs), "gets" -> getMs.length,
      "get_p50_ms" -> med(getMs), "get_tail" -> tail(getMs),
      "optimizes" -> opts.length, "commits" -> (commits - commits0),
      "checkpoint_cycles" -> (commits - commits0) / GenManifest.CheckpointEvery.toDouble,
      "loop_s" -> loopS, "live_keys" -> live.size, "erased_keys" -> erased.length)
    if (ctx.trace) {
      val w = written.result()
      val nCommits = math.max(1, commits - commits0).toDouble
      val readMs = (1 to 5).map(_ => Time.ms(GenManifest.read(table.getPath, conf))._2)
      rep.layers ++= Seq(
        "ProtoZstSink.write.self_s" -> med(appendMs) / 1e3,
        "ProtoZstSink.write.mb_per_s" -> med(w.map(x => x._3 / 1e6 / (x._4 / 1e3))),
        "ProtoZstSink.write.files" -> med(w.map(_._1.toDouble)),
        "ProtoZstSink.write.frames" -> med(w.map(_._2.toDouble)),
        "GenManifest.commit_ms" -> med(commitMs.result()),
        "GenManifest.read_ms" -> med(readMs),
        "GenManifest.commit_bytes" -> meta.commitBytes / nCommits,
        "GenManifest.checkpoint_bytes" -> meta.checkpointBytes / nCommits,
        "GenManifest.live_files" -> GenManifest.read(table.getPath, conf)
          .fold(0)(_.entries.length).toDouble,
        "GenManifest.reads_per_op" -> meta.manifestReads.toDouble / ops,
        "Tombstones.erase.self_ms" -> med(eraseMs),
        "SinkMaintain.optimize.self_s" -> med(opts.map(_._1)) / 1e3,
        "SinkMaintain.optimize.files_in" -> opts.map(_._2.toDouble).sum,
        "SinkMaintain.optimize.files_out" -> opts.map(_._3.toDouble).sum,
        "SinkMaintain.optimize.bytes_rewritten" -> opts.map(_._4.toDouble).sum,
        "trace.overhead_ms" -> (med(getMs) - med(plainGets.result())))
      rep.layers ++= probe.getLayers
      Catalogue.spark(rep, totals, ops)
      Sweep(ctx, rep, table)
    }
  }
}
