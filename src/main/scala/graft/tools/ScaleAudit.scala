package graft.tools

import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.QueryTraits

/** Emit a markdown table of plan-shape facts per query — shuffle count,
  * broadcast count, join strategies, pushed filters — the mechanical
  * half of the 100 TB audit (SCALE.md).
  *
  * On-build queries (streaming runs, sink/fixture writes — the
  * [[QueryTraits.executesOnBuild]] set) are AUDITED, not skipped: the
  * builder runs under a [[StreamingQueryListener]] and the row records
  * (a) the plan shape of the frame the query returns (tagged, since
  * for snapshot-style queries that is the replay, not the build) and
  * (b) every streaming state operator the build ran — operator name
  * and rows in state at the last progress — so a state-operator-count
  * regression in ANY streaming query changes this committed artifact.
  * State MEMORY bytes are deliberately not recorded: they vary run to
  * run (allocator noise) and would churn the table without signal.
  */
object ScaleAudit {

  /** Streaming progress collector: remembers the last progress per
    * query NAME (uuid suffix stripped), with its state operators.
    */
  private final class StateListener extends StreamingQueryListener {
    val seen = new java.util.concurrent.ConcurrentHashMap[
      String, Seq[(String, Long)]]()
    @volatile var eventCount = 0L
    private def norm(name: String): String =
      if (name == null) "(unnamed)"
      else name.replaceAll("_[0-9a-f]{32}$", "")
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit =
      eventCount += 1
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      eventCount += 1
      val ops = e.progress.stateOperators.toSeq
        .map(s => (s.operatorName, s.numRowsTotal))
      if (ops.nonEmpty) seen.put(norm(e.progress.name), ops)
    }
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      eventCount += 1
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.Harness.session(graft.Harness.cpus)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val onBuild = QueryTraits.executesOnBuild
    val listener = new StateListener
    spark.streams.addListener(listener)

    /** The listener bus is async: wait until every stream is done and
      * no new events have arrived for half a second (bounded).
      */
    def drainStreams(): Unit = {
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      var last = -1L
      while (System.nanoTime() < deadline &&
          (spark.streams.active.nonEmpty || last != listener.eventCount)) {
        last = listener.eventCount
        Thread.sleep(500)
      }
    }

    def planFacts(plan: String): (Int, Int, String, Boolean) = {
      val lines = plan.linesIterator.toSeq
      // Occurrence counts over the printed tree — deliberately NOT
      // deduplicated: a subplan the query references k times (then
      // localCheckpoints; the audit bypasses that, so it prints per
      // reference) shows its exchanges k×, but each duplicate carries
      // fresh exprIds and a unique plan_id, so no text-level dedup is
      // sound, and plan-node canonicalization can't see through the
      // AQE leaf wrapper. SCALE.md's reading note defines the column
      // as the worst-case-if-nothing-reused bound for exactly this
      // reason; the per-family prose carries the executed shape.
      def count(ps: String*): Int =
        lines.count(l => ps.exists(l.contains))
      val shuffles = count("Exchange hashpartitioning",
        "Exchange rangepartitioning", "Exchange RoundRobin")
      val bcasts = count("BroadcastExchange")
      val joins = Seq("BroadcastHashJoin", "SortMergeJoin",
        "ShuffledHashJoin", "BroadcastNestedLoopJoin")
        .filter(j => plan.contains(j)) match {
        case Nil => "none"
        case js => js.mkString(", ")
      }
      val pushed = lines.find(_.contains("PushedFilters: ["))
        .exists(!_.contains("PushedFilters: []"))
      (shuffles, bcasts, joins, pushed)
    }
    println("| query | shuffles | broadcasts | join strategies | pushed filter | streaming state |")
    println("|---|---|---|---|---|---|")
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val statesBefore = new java.util.HashMap(listener.seen)
      // Disable lazy-checkpoint lineage truncation while the frame is
      // constructed so the counted plan covers the FULL pipeline
      // instead of Scan ExistingRDD stubs at every lazy
      // localCheckpoint (eager checkpoints — session-shared trained
      // artifacts — stay materialized inputs and are audited on their
      // own fixture rows below). Safe for ALL queries, on-build
      // included: fixpoint loops truncate through `cpIter`, which
      // ignores the audit flag precisely so a round's lineage stays
      // bounded (a construction that executes under audit mode at
      // worst recomputes a shared single-pass frame per round —
      // bounded linear re-work at audit scale, never an unrolled
      // plan).
      graft.operators.Checkpoints.planAudit = true
      val plan =
        try fn(spark, dir).queryExecution.executedPlan.toString
        finally graft.operators.Checkpoints.planAudit = false
      val (shuffles, bcasts, joins, pushed) = planFacts(plan)
      val (tag, state) =
        if (!onBuild(name)) ("", "-")
        else {
          drainStreams()
          val fresh = new java.util.HashMap(listener.seen)
          statesBefore.keySet().forEach { k =>
            if (fresh.get(k) == statesBefore.get(k)) fresh.remove(k)
          }
          val ops = fresh.values().stream().toArray()
            .flatMap(_.asInstanceOf[Seq[(String, Long)]])
          val s =
            if (ops.isEmpty) "no stateful operator"
            else ops.map { case (op, rows) => s"$op rows=$rows" }
              .mkString("; ")
          (" (post-build frame)", s)
        }
      println(s"| $name | $shuffles | $bcasts | $joins$tag | $pushed | $state |")
    }
    // Session-shared derived artifacts (trained centroids/codebooks,
    // the consolidated co-purchase graph): their build pipelines are
    // paid ONCE per corpus, so they get their own rows instead of
    // being inlined into every consumer's counts.
    graft.operators.Checkpoints.planAudit = true
    try {
      (graft.operators.SimSearch.fixturePlans(spark, dir) ++
        graft.operators.Relational.fixturePlans(spark, dir) ++
        graft.operators.DedupClusters.auditPlans(spark, dir) ++
        graft.operators.Releases.auditPlans(spark, dir) ++
        graft.operators.Quality.auditPlans(spark, dir) ++
        graft.operators.Retrieval.auditPlans(spark, dir) ++
        graft.operators.Classifier.auditPlans(spark, dir) ++
        graft.operators.Dedup.auditPlans(spark, dir))
        .foreach { case (name, df) =>
          val (shuffles, bcasts, joins, pushed) =
            planFacts(df.queryExecution.executedPlan.toString)
          println(s"| $name | $shuffles | $bcasts | $joins (one-off build) | $pushed | - |")
        }
    } finally graft.operators.Checkpoints.planAudit = false
    spark.stop()
  }
}
