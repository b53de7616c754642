package convbench

import java.io.File

import scala.collection.mutable

import graft.operators.{SinkMaintain, Tombstones}
import graft.sources.{GenManifest, ProtoZstFiles}

/** Traced runs only, after a workload's loop and its final check: one
  * short pass through each layer whose time the loop did not measure,
  * on this run's generation `dir` and seed, so that every per-layer time
  * a traced run reports is measured in that run. The conversion layers
  * run the [[Ladder]] over a generated table of ~360k cells (the `read`
  * workload's own table).
  * `detail.swept` names the metrics that came from here; the loop's own
  * numbers are never replaced.
  */
object Sweep {
  private val Reps = 3
  private val Parts = Gen.partsFor(300000)

  def apply(ctx: Ctx, rep: Report, dir: File): Unit = {
    val swept = mutable.ArrayBuffer.empty[String]
    def need(name: String): Boolean = !rep.layers.contains(name)
    def put(kv: Seq[(String, Double)]): Unit = {
      val fresh = kv.filter { case (k, _) => need(k) }
      rep.layers ++= fresh
      swept ++= fresh.map(_._1)
    }
    def medianMs(f: Int => Unit): Double =
      Stats.median((1 to Reps).map(i => Time.ms(f(i))._2))
    val conf = ProtoZstFiles.hadoopConf()
    val path = dir.getPath

    if (need("parquet.scan.self_s")) {
      val input = new File(ctx.sub("sweep"), "cells.parquet")
      Pipeline.cells(ctx.spark, ctx.seed, Parts, ctx.cores * 4).write.parquet(input.getPath)
      val cells = () => ctx.spark.read.parquet(input.getPath)
      // the first repetition warms the noop-sink jobs and is dropped
      val outs = (1 to 2).map(i => new File(ctx.sub("sweep"), s"out-$i"))
      val reps = outs.map(Ladder.rep(ctx, cells, _))
      put(Ladder.layers(reps.tail, outs.last))
    }
    if (need("ProtoZstSource.decode.self_s")) {
      val probe = new Probe(ctx)
      val ms = (1 to Reps).map { _ =>
        probe(ctx.spark.read.format("proto-zst").load(path)
          .write.format("noop").mode("overwrite").save())
        probe.lastMs
      }
      val rows = probe.queries.flatMap(_.rowsOut("BatchScan")).sum.toDouble / Reps
      val s = Stats.median(ms) / 1e3
      put(Seq("ProtoZstSource.decode.self_s" -> s, "ProtoZstSource.decode.rows_per_s" -> rows / s))
    }
    if (need("ProtoZstSource.get.plan_ms")) {
      val probe = new Probe(ctx)
      (0 until 2 * Reps).foreach(i => probe(Pipeline.get(ctx.spark, dir, Gen.key(i))))
      put(probe.getLayers)
    }
    if (need("GenManifest.commit_ms"))
      put(Seq("GenManifest.commit_ms" -> medianMs(_ => GenManifest.commit(path, conf)(identity))))
    if (need("Tombstones.erase.self_ms"))
      put(Seq("Tombstones.erase.self_ms" ->
        medianMs(i => Tombstones.eraseKeys(path, Seq(("sweep-absent-" + i).getBytes("UTF-8"))))))
    if (need("SinkMaintain.optimize.self_s")) {
      val ms = Time.ms(SinkMaintain.optimizeSink(ctx.spark, path))._2
      put(Seq("SinkMaintain.optimize.self_s" -> ms / 1e3))
    }
    rep.detail("swept") = swept.toSeq
  }
}
