package graft
object Bench {
  /** Machine-load telemetry: 1/5/15-min loadavg and cumulative steal
    * ticks (field 8 of /proc/stat's cpu line). Sampled before and
    * after the sweep and emitted into the bench JSON so a
    * contention-inflated artifact is SELF-EVIDENT — a sweep that
    * starts at loadavg 30 on a 32-thread box is measuring the
    * neighbors, not the engine. Best-effort: absent /proc (non-Linux)
    * degrades to empty fields, never a crash.
    */
  private def loadavg(): Seq[Double] =
    try scala.io.Source.fromFile("/proc/loadavg").mkString
      .split("\\s+").take(3).toSeq.map(_.toDouble)
    catch { case _: Throwable => Seq.empty }
  private def stealTicks(): Long =
    try scala.io.Source.fromFile("/proc/stat").getLines()
      .find(_.startsWith("cpu "))
      .map(_.trim.split("\\s+").drop(1).lift(7).fold(0L)(_.toLong))
      .getOrElse(0L)
    catch { case _: Throwable => 0L }

  def main(args: Array[String]): Unit = {
    val load0 = loadavg()
    val steal0 = stealTicks()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Route Spark's spill/temp dirs (shuffle blocks, temp streaming
    // checkpoints — java.io.tmpdir is where forceDeleteTempCheckpoint
    // locations are created) to the memory-backed scratch fs when one
    // is mounted: the streaming family's per-micro-batch offset/commit
    // fsyncs are the sweep's fixed cost, and none of this data needs
    // to survive the JVM. Shuffle spill goes there ONLY with generous
    // headroom — tmpfs is RAM-capped and spills happen exactly when
    // memory is short, so a small /dev/shm must never take
    // spark.local.dir (ENOSPC mid-sweep would fail queries that pass
    // on disk).
    val diskTmp = System.getProperty("java.io.tmpdir")
    def shmWithHeadroom(gib: Long): Option[String] =
      graft.operators.Scratch.preferredTmp
        .filter(p => java.nio.file.Files.getFileStore(p).getUsableSpace >
          gib * 1024 * 1024 * 1024)
        .map(_.toString)
    shmWithHeadroom(16).foreach(System.setProperty("java.io.tmpdir", _))
    val spark = Harness.session(Harness.cpus,
      "spark.local.dir" -> shmWithHeadroom(64).getOrElse(diskTmp))
    Harness.warm(spark, sfDir)
    // TIMED fixture rows: every SHARED derived artifact (sink files,
    // generations, trained centroids/codebooks, the 2i index, the
    // session-cached derived tables) builds before any query is timed
    // — whichever query touched a fixture first would otherwise absorb
    // its build cost and read as a regression — but each COLD build is
    // timed as its own `fixture:<name>` row in the output, so the
    // bench total includes every fixture build exactly once and no
    // pipeline cost hides in an untimed prelude. Fixture rows run ONCE
    // (a second run would read the warm cache and time nothing);
    // dependency order means each row times only its own increment.
    val fixtureResults = SparkEntry.fixtureBuilds.map { f =>
      val name = "fixture:" + f.name
      val t0 = System.nanoTime()
      val ok = try { f(spark, sfDir); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); false }
      name -> ((Seq((System.nanoTime() - t0) / 1e9), ok))
    }
    val warmOk = fixtureResults.forall(_._2._2)
    // A failed query is recorded in "errors" (not silently timed as if
    // it succeeded) so the bench line can't mask a crash as a fast run.
    // Deterministic name order keeps per-round timings comparable; each
    // query runs twice and reports the min — steady-state time, not
    // first-run plan compilation + whatever the noisy neighbors were
    // doing (observed 2x total swings between back-to-back runs).
    // On-build queries (streaming runs: state-store init, offset logs,
    // extra watermark batches) are the one family still swinging ~2x
    // between sweeps at local[32] — they get a third run so the min is
    // a steadier floor and round-over-round tails stop showing phantom
    // streaming regressions.
    // Optional comma-separated row-name filter for local iteration on
    // one query's steady-state time or one fixture's cold build
    // (`fixture:<name>`; every fixture still builds first). Unset, the
    // sweep reports every row.
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    def wanted(name: String) = only.forall(_.contains(name))
    // Sweep hygiene: every shared fixture is checkpointed by the warm
    // prelude above, so any persistent RDD that appears DURING a timed
    // query is that query's private localCheckpoint blocks — garbage
    // the moment its runs finish, but pinned in the executor JVM
    // otherwise. 170 queries' accumulated blocks were enough memory
    // pressure to read as phantom late-sweep regressions (q74 showed
    // 3.1s in a full-sweep tail vs 0.33s standalone), so the delta is
    // unpersisted after each query: sweep position stops mattering.
    // ONLY when the warm prelude succeeded: a fixture built lazily
    // DURING a timed query would otherwise look private, and
    // unpersisting an eager localCheckpoint's blocks breaks every
    // later consumer of the cached truncated-lineage frame
    // ("Checkpoint block not found") — hygiene must never outrank
    // correctness.
    val protectedRdds = spark.sparkContext.getPersistentRDDs.keySet
    def dropPrivateBlocks(): Unit = {
      // private cp() frames: always droppable (persist — lineage
      // intact, a drained frame recomputes; also clears CacheManager
      // entries so plan-compile cost can't grow across the sweep)
      graft.operators.Checkpoints.drainPrivate()
      if (warmOk)
        spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
          if (!protectedRdds.contains(id)) rdd.unpersist(blocking = false)
        }
    }
    val queryResults = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => wanted(name) }
      .map { case (name, fn) =>
      def once(): (Double, Boolean) = {
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}"); false }
        ((System.nanoTime() - t0) / 1e9, ok)
      }
      val runs = if (QueryTraits.executesOnBuild(name)) 3 else 2
      val outcomes = Seq.fill(runs)(once())
      dropPrivateBlocks()
      name -> (outcomes.map(_._1), outcomes.forall(_._2))
    }
    val results = fixtureResults.filter(r => wanted(r._1)) ++ queryResults
    val qs = results.map { case (k, (ts, _)) => s"\"" + k + "\":" + ts.min }
      .mkString("{", ",", "}")
    // raw per-run times alongside the min: a cold first run (plan
    // compilation, fixture build) is visible as such instead of
    // masquerading as a regression when it leaks into the min
    val raw = results.map { case (k, (ts, _)) =>
      s"\"" + k + "\":[" + ts.mkString(",") + "]" }.mkString("{", ",", "}")
    val errs = results.collect { case (k, (_, false)) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.map(_._2._1.min).sum
    val load = {
      val l1 = loadavg().mkString("[", ",", "]")
      val l0 = load0.mkString("[", ",", "]")
      s"""{"loadavg_start":$l0,"loadavg_end":$l1,""" +
        s""""steal_ticks":${stealTicks() - steal0},""" +
        s""""cpus":${Runtime.getRuntime.availableProcessors()}}"""
    }
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"runs":$raw,"errors":$errs,"load":$load,"sf":"$sfDir"}""")
    spark.stop()
  }
}
