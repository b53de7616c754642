package convbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sources.MetaIO

/** Engine counters from a SparkListener, read as before/after deltas. */
final class SparkCounters extends SparkListener {
  val jobs, tasks, cpuNs, gcMs, shuffleWrite, spill = new AtomicLong
  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
  def snap(): Counts = Counts(jobs.get, tasks.get, cpuNs.get, gcMs.get,
    shuffleWrite.get, spill.get)
}

final case class Counts(jobs: Long, tasks: Long, cpuNs: Long, gcMs: Long,
    shuffleWrite: Long, spill: Long) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, tasks - o.tasks,
    cpuNs - o.cpuNs, gcMs - o.gcMs, shuffleWrite - o.shuffleWrite,
    spill - o.spill)
  def +(o: Counts): Counts = Counts(jobs + o.jobs, tasks + o.tasks,
    cpuNs + o.cpuNs, gcMs + o.gcMs, shuffleWrite + o.shuffleWrite,
    spill + o.spill)
}
object Counts { val Zero: Counts = Counts(0, 0, 0, 0, 0, 0) }

/** A snapshot of the engine's process-global `MetaIO` counters. */
final case class Meta(manifestReads: Long, commitBytes: Long,
    checkpointBytes: Long, bloomProbes: Long, bloomSkips: Long,
    frameSeeks: Long, seekBytes: Long) {
  def -(o: Meta): Meta = Meta(manifestReads - o.manifestReads,
    commitBytes - o.commitBytes, checkpointBytes - o.checkpointBytes,
    bloomProbes - o.bloomProbes, bloomSkips - o.bloomSkips,
    frameSeeks - o.frameSeeks, seekBytes - o.seekBytes)
  def +(o: Meta): Meta = Meta(manifestReads + o.manifestReads,
    commitBytes + o.commitBytes, checkpointBytes + o.checkpointBytes,
    bloomProbes + o.bloomProbes, bloomSkips + o.bloomSkips,
    frameSeeks + o.frameSeeks, seekBytes + o.seekBytes)
}
object Meta {
  val Zero: Meta = Meta(0, 0, 0, 0, 0, 0, 0)
  def snap(): Meta = Meta(MetaIO.manifestReads.get, MetaIO.commitBytes.get,
    MetaIO.checkpointBytes.get, MetaIO.bloomProbes.get, MetaIO.bloomSkips.get,
    MetaIO.frameSeeks.get, MetaIO.seekBytes.get)
}

/** One finished query as a QueryExecutionListener saw it. */
final case class QueryDone(qe: QueryExecution, durationNs: Long) {
  /** analysis + optimization + physical planning, in ms. */
  def planMs: Double = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
  def execMs: Double = durationNs / 1e6

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }
  def plan: Seq[SparkPlan] = nodes(qe.executedPlan)
  def filesPlanned: Long = plan.collect {
    case b: BatchScanExec => b.inputPartitions.length.toLong }.sum
  /** `numOutputRows` of the first node whose name starts with `prefix`. */
  def rowsOut(prefix: String): Option[Long] = plan
    .find(_.nodeName.startsWith(prefix))
    .flatMap(_.metrics.get("numOutputRows")).map(_.value)
}

final class QueryCapture extends QueryExecutionListener {
  private val q = new ConcurrentLinkedQueue[QueryDone]
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    q.add(QueryDone(qe, ns))
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  def take(): Seq[QueryDone] = {
    val b = Seq.newBuilder[QueryDone]
    var x = q.poll()
    while (x != null) { b += x; x = q.poll() }
    b.result()
  }
}

/** A span around one call into a layer: name, start and end (ns since
  * the tracer started), the enclosing span and the operation id.
  */
final case class Span(id: Int, name: String, start: Long, end: Long,
    parent: Int, op: Long)

/** In-memory span recorder; a no-op when tracing is off. Spans are
  * written out once, when the run ends.
  */
final class Tracer(val enabled: Boolean) {
  private val t0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil

  def span[T](name: String, op: Long)(f: => T): T =
    if (!enabled) f
    else {
      val id = spans.length
      val start = System.nanoTime() - t0
      spans += Span(id, name, start, start, stack.headOption.getOrElse(-1), op)
      stack = id :: stack
      try f
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(end = System.nanoTime() - t0)
      }
    }

  /** Self time per span name in seconds: each span's duration minus
    * the part of it its child spans cover.
    */
  def selfSeconds: Map[String, Seq[Double]] = {
    val kids = spans.groupBy(_.parent)
    spans.toSeq.map { s =>
      val covered = kids.getOrElse(s.id, Nil).toSeq
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          val from = math.max(a, reach)
          (sum + math.max(0L, b - from), math.max(reach, b))
        }._1
      s.name -> (s.end - s.start - covered) / 1e9
    }.groupMap(_._1)(_._2)
  }

  def write(file: File): Unit = if (enabled) {
    file.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(file, "UTF-8")
    try spans.foreach(s => w.println(Json.obj(Seq(
      "id" -> s.id, "name" -> s.name, "start_ns" -> s.start,
      "end_ns" -> s.end, "parent" -> s.parent, "op" -> s.op))))
    finally w.close()
  }
}

/** Minimal JSON rendering for the result and diagnostic lines. */
object Json {
  def value(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case n: Number => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case None | null => "null"
    case Some(x) => value(x)
    case other => value(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}")
}

/** Host load diagnostics, sampled before and after a run. */
object Host {
  def loadavg1(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }
  def stealTicks(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu "))
        .map(_.trim.split("\\s+").drop(1).lift(7).fold(0L)(_.toLong)).getOrElse(0L)
      finally src.close()
    } catch { case _: Exception => 0L }
  /** VmHWM of this JVM in MB. */
  def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
      finally src.close()
    } catch { case _: Exception => 0.0 }
}

object Files {
  def bytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).fold(0L)(_.map(bytes).sum)
    else f.length()
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }
  /** Committed data files of a generation, by the on-disk naming. */
  def dataFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.endsWith(".proto.zst") &&
        !f.getName.startsWith(".") && !f.getName.startsWith("tomb-"))
      .sortBy(_.getName)
}

/** Everything a workload needs: the session, its seed and budget, the
  * listeners the benchmark registered, and the tally of operations.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val tracer: Tracer, val dir: File, val cores: Int) {
  val counters = new SparkCounters
  val queries = new QueryCapture
  spark.sparkContext.addSparkListener(counters)
  spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    .listenerManager.register(queries)

  def trace: Boolean = tracer.enabled

  private var opSeq = 0L
  def nextOp(): Long = { opSeq += 1; opSeq }

  var attempted = 0L
  var failed = 0L
  /** Failed operations with their reasons, for the diagnostic line. */
  val failures = mutable.ArrayBuffer.empty[String]

  /** Count one operation; a failed check or an exception is a failure.
    * Returns the check's verdict.
    */
  def check(what: String)(ok: => Boolean): Boolean = {
    attempted += 1
    val verdict =
      try ok
      catch { case e: Exception =>
        failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
        false
      }
    if (!verdict) {
      failed += 1
      if (failures.lastOption.forall(!_.startsWith(what + ":")))
        failures += s"$what: output differs from the generator's expectation"
      System.err.println(s"convbench: CHECK FAILED: ${failures.last}")
    }
    verdict
  }

  /** Wait for listener events; return the queries captured since the
    * last call.
    */
  def drain(): Seq[QueryDone] = {
    org.apache.spark.ConvbenchBus.drain(spark.sparkContext)
    queries.take()
  }

  /** Wait for listener events and drop the captured queries. */
  def settle(): Unit = { drain(); () }

  def sub(name: String): File = { val f = new File(dir, name); f.mkdirs(); f }
}

/** Listener and `MetaIO` deltas summed over the operations run through
  * it; each waits for listener events before and after, so the deltas
  * are the operation's own.
  */
final class Probe(ctx: Ctx) {
  var counts: Counts = Counts.Zero
  var meta: Meta = Meta.Zero
  val queries = mutable.ArrayBuffer.empty[QueryDone]
  /** Wall time of the last operation alone, without the waits. */
  var lastMs = 0.0

  def apply[T](f: => T): T = {
    ctx.settle()
    val c0 = ctx.counters.snap(); val m0 = Meta.snap()
    val (r, ms) = Time.ms(f)
    lastMs = ms
    queries ++= ctx.drain()
    counts = counts + (ctx.counters.snap() - c0)
    meta = meta + (Meta.snap() - m0)
    r
  }

  /** Per-get source and sidecar metrics over the probed gets. */
  def getLayers: Seq[(String, Double)] = {
    val n = math.max(1, queries.length).toDouble
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    Seq(
      "ProtoZstSource.get.plan_ms" -> med(queries.toSeq.map(_.planMs)),
      "ProtoZstSource.get.exec_ms" -> med(queries.toSeq.map(_.execMs)),
      "ProtoZstSource.get.files_planned" -> queries.map(_.filesPlanned).sum / n,
      "ProtoZstSource.get.tasks" -> counts.tasks / n,
      "Sidecars.bloom.probes" -> meta.bloomProbes / n,
      "Sidecars.bloom.skip_ratio" ->
        (if (meta.bloomProbes > 0) meta.bloomSkips.toDouble / meta.bloomProbes else 0.0),
      "Sidecars.seek.frames_per_get" -> meta.frameSeeks / n,
      "Sidecars.seek.bytes_per_get" -> meta.seekBytes / n)
  }
}

/** What a workload reports: end-to-end metrics for an untraced run,
  * per-layer metrics for a traced one, and free-form diagnostics.
  */
final class Report {
  val endToEnd = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val detail = mutable.LinkedHashMap.empty[String, Any]
}

object Time {
  def ms[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }
  def deadline(seconds: Double): Long = System.nanoTime() + (seconds * 1e9).toLong
  def before(deadline: Long): Boolean = System.nanoTime() < deadline
}
