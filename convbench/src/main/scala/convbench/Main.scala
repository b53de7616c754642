package convbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

/** A workload: `prepare` builds its data and expectation, `warm` runs
  * untimed operations so lazy set-up and JIT finish, and `run` is the
  * timed closed loop of one client.
  */
trait Workload {
  def prepare(ctx: Ctx): Unit
  def warm(ctx: Ctx): Unit
  def run(ctx: Ctx, rep: Report): Unit
}

/** Metric catalogue: every run reports all end-to-end metrics (untraced)
  * or all per-layer metrics (traced); convbench/METRICS.md maps each
  * metric to its workloads.
  */
object Catalogue {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "peak_rss_mb" -> "MB", "cells_per_s" -> "1/s",
    "bytes_out_per_user_byte" -> "ratio", "op_p50_ms" -> "ms")

  val Layers: Seq[(String, String)] = Seq(
    "parquet.scan.self_s" -> "s",
    "CellModel.filter.self_s" -> "s",
    "CellModel.filter.live_share" -> "ratio",
    "CellModel.nest.self_s" -> "s",
    "CellModel.nest.shuffle_bytes" -> "bytes",
    "CellModel.nest.spill_bytes" -> "bytes",
    "ProtoWire.encode.self_s" -> "s",
    "ProtoWire.encode.floor_ratio" -> "ratio",
    "ProtoZstSink.write.self_s" -> "s",
    "ProtoZstSink.write.mb_per_s" -> "MB/s",
    "ProtoZstSink.write.floor_ratio" -> "ratio",
    "ProtoZstSink.write.files" -> "count",
    "ProtoZstSink.write.frames" -> "count",
    "GenManifest.commit_ms" -> "ms",
    "GenManifest.read_ms" -> "ms",
    "GenManifest.commit_bytes" -> "bytes",
    "GenManifest.checkpoint_bytes" -> "bytes",
    "GenManifest.live_files" -> "count",
    "GenManifest.reads_per_op" -> "count",
    "ProtoZstSource.decode.self_s" -> "s",
    "ProtoZstSource.decode.rows_per_s" -> "1/s",
    "ProtoZstSource.decode.floor_ratio" -> "ratio",
    "ProtoZstSource.get.plan_ms" -> "ms",
    "ProtoZstSource.get.exec_ms" -> "ms",
    "ProtoZstSource.get.files_planned" -> "count",
    "ProtoZstSource.get.tasks" -> "count",
    "Sidecars.bloom.probes" -> "count",
    "Sidecars.bloom.skip_ratio" -> "ratio",
    "Sidecars.seek.frames_per_get" -> "count",
    "Sidecars.seek.bytes_per_get" -> "bytes",
    "Tombstones.erase.self_ms" -> "ms",
    "SinkMaintain.optimize.self_s" -> "s",
    "SinkMaintain.optimize.files_in" -> "count",
    "SinkMaintain.optimize.files_out" -> "count",
    "SinkMaintain.optimize.bytes_rewritten" -> "bytes",
    "spark.jobs" -> "count",
    "spark.tasks" -> "count",
    "spark.executor_cpu_ms" -> "ms",
    "spark.gc_ms" -> "ms",
    "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes",
    "trace.overhead_ms" -> "ms")

  /** The `spark.*` metrics: listener counts per timed operation. */
  def spark(rep: Report, c: Counts, ops: Long): Unit = {
    val n = math.max(1L, ops).toDouble
    rep.layers ++= Seq(
      "spark.jobs" -> c.jobs / n, "spark.tasks" -> c.tasks / n,
      "spark.executor_cpu_ms" -> c.cpuNs / 1e6 / n, "spark.gc_ms" -> c.gcMs / n,
      "spark.shuffle_write_bytes" -> c.shuffleWrite / n,
      "spark.spill_bytes" -> c.spill / n)
  }
}

object Main {
  private def usage(msg: String): Nothing = {
    System.err.println(s"convbench: $msg\nusage: --workload export|read|ingest " +
      "--seed N --seconds S --trace 0|1 --dir RUN_DIR [--traces DIR]")
    sys.exit(2)
  }

  def session(dir: File, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("convbench")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.local.dir", new File(dir, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(dir, "warehouse").getPath)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => usage(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def opt(k: String): String = opts.getOrElse(k, usage(s"missing --$k"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val trace = opt("trace") == "1"
    val dir = new File(opt("dir"))
    val workloadName = opt("workload")
    val workload: Workload = workloadName match {
      case "export" => new ExportWorkload
      case "read" => new ReadWorkload
      case "ingest" => new IngestWorkload
      case w => usage(s"unknown workload $w")
    }
    val cores = Runtime.getRuntime.availableProcessors()
    val steal0 = Host.stealTicks()
    val load0 = Host.loadavg1()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = session(dir, cores)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val ctx = new Ctx(spark, seed, seconds, new Tracer(trace), dir, cores)
    val rep = new Report
    var code = 0
    try {
      val prepareS = Time.ms(workload.prepare(ctx))._2 / 1e3
      val warmS = Time.ms(workload.warm(ctx))._2 / 1e3
      ctx.settle()
      workload.run(ctx, rep)
      rep.endToEnd("setup_s") = sessionS + prepareS + warmS
      rep.endToEnd("peak_rss_mb") = Host.peakRssMb()
      val broken = rep.endToEnd.filterNot(_._2.isFinite).keys
      if (!trace && broken.nonEmpty)
        throw new IllegalStateException(s"non-finite metrics: ${broken.mkString(", ")}")
      rep.detail ++= Seq("session_s" -> sessionS, "prepare_s" -> prepareS,
        "warm_s" -> warmS)
    } catch {
      case e: Throwable =>
        System.err.println(s"convbench: run aborted: $e")
        e.printStackTrace()
        code = 1
    }
    rep.detail ++= Seq("workload" -> workloadName, "seed" -> seed,
      "cores" -> cores, "trace" -> trace,
      "steal_ticks" -> (Host.stealTicks() - steal0),
      "loadavg_start" -> load0, "loadavg_end" -> Host.loadavg1(),
      "failures" -> ctx.failures.take(10).toSeq)
    if (trace) {
      val out = new File(opts.getOrElse("traces", dir.getPath),
        s"trace-$workloadName-$seed.jsonl")
      ctx.tracer.write(out)
      rep.detail("spans_file") = out.getPath
      rep.detail("span_self_s") = ctx.tracer.selfSeconds.map { case (name, xs) =>
        name -> ListMap("n" -> xs.length, "median" -> Stats.median(xs), "total" -> xs.sum)
      }
    }
    println(Json.obj(Seq("detail" -> ListMap(rep.detail.toSeq: _*))))
    if (code == 0) {
      val (names, values) =
        if (trace) (Catalogue.Layers, rep.layers) else (Catalogue.EndToEnd, rep.endToEnd)
      val metrics = names.map { case (n, unit) =>
        // a per-layer ratio over an empty base reads 0, never NaN
        n -> ListMap("value" -> values.get(n).filter(_.isFinite).getOrElse(0.0),
          "unit" -> unit)
      }
      println(Json.obj(Seq(
        "correct" -> (ctx.failed == 0 && ctx.attempted > 0),
        "attempted" -> math.max(1L, ctx.attempted),
        "failed" -> (if (ctx.attempted == 0) 1L else ctx.failed),
        "metrics" -> ListMap(metrics: _*))))
    }
    System.out.flush()
    try spark.stop() catch { case _: Throwable => () }
    sys.exit(code)
  }
}
