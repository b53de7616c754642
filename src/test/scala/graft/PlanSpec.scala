package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Core, Relational}

/** Physical-plan assertions — the 100 TB posture checks: filters and
  * column pruning reach the parquet scan, dimension joins broadcast,
  * the per-key nest is a single shuffle.
  */
class PlanSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sf0001}

  private def physical(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q01 scan pushes the quantity filter into the parquet scan") {
    val plan = physical(Core.scanProject(spark, sf0001))
    assert(plan.contains("PushedFilters"), plan.take(2000))
    assert(plan.contains("GreaterThanOrEqual(l_quantity,45.0)"), plan.take(2000))
  }

  test("q01 scan prunes to the 4 selected columns") {
    val plan = physical(Core.scanProject(spark, sf0001))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema"))
      .getOrElse(plan.split("ReadSchema").last)
    assert(readSchema.contains("l_orderkey") && !readSchema.contains("l_shipdate"),
      readSchema)
  }

  test("q09 joins dimensions via broadcast, not shuffle") {
    val plan = physical(Relational.joinRevenue(spark, sf0001))
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
  }

  test("q04 nest is a single shuffle on key") {
    val plan = physical(Core.nestRows(spark, sf0001))
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges === 1, s"expected 1 Exchange, plan:\n$plan")
  }

  test("nestCells executes with ONE exchange and no object or sort aggregate") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.{ObjectHashAggregateExec, SortAggregateExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val nested = graft.operators.CellModel.nestRows(spark, sf0001)
    nested.collect()
    val plan = nested.queryExecution.executedPlan
    val walk = new AdaptiveSparkPlanHelper {}
    assert(walk.collect(plan) { case e: ShuffleExchangeExec => e }.length === 1, plan)
    assert(walk.collect(plan) {
      case a: ObjectHashAggregateExec => a
      case a: SortAggregateExec => a
    }.isEmpty, plan)
    assert(walk.collect(plan) { case m: graft.operators.NestMergeExec => m }.length === 1, plan)
  }

  test("q36 per-key stats over the sink files plan ZERO exchanges") {
    val plan = physical(graft.operators.Sink.noShuffleStats(spark, sf0001))
    assert(!plan.contains("Exchange"),
      s"expected a shuffle-free plan, got:\n${plan.take(2000)}")
  }

  test("q44 bucketed join plans no exchange on the join keys") {
    val plan = physical(Relational.bucketedJoin(spark, sf0001))
    assert(plan.contains("SortMergeJoin"), plan.take(3000))
    // the only exchange allowed is the final groupBy on o_orderpriority
    val joinKeyExchanges = plan.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") &&
        (l.contains("l_orderkey") || l.contains("o_orderkey")))
    assert(joinKeyExchanges === 0, s"join-side shuffle in:\n${plan.take(3000)}")
  }

  test("q106 grouping sets plan ONE Expand and ONE exchange (no per-level passes)") {
    val plan = physical(Relational.groupingSetsPricing(spark, sf0001))
    assert(plan.linesIterator.count(_.contains("Expand [")) === 1,
      plan.take(3000))
    assert(plan.linesIterator.count(_.contains("Exchange")) === 1,
      s"expected the single aggregate shuffle, got:\n${plan.take(3000)}")
  }

  test("q114 sliding windows plan ONE Expand into ONE exchange (no per-window passes)") {
    val plan = physical(graft.operators.Events.slidingWindowAgg(spark, sf0001))
    assert(plan.linesIterator.count(_.contains("Expand [")) === 1,
      plan.take(3000))
    assert(plan.linesIterator.count(_.contains("Exchange")) === 1,
      s"expected the single window-key shuffle, got:\n${plan.take(3000)}")
  }

  test("q108 rolling range-frame features plan ONE exchange (user key) and one Window") {
    val plan = physical(Relational.rollingFeatures(spark, sf0001))
    assert(plan.linesIterator.count(_.contains("Exchange")) === 1,
      s"expected the single customer-key shuffle, got:\n${plan.take(3000)}")
    assert(plan.contains("Window"), plan.take(3000))
  }

  test("q109 evolved read prunes to original columns when new ones are unused") {
    // a consumer selecting only pre-evolution columns must not read
    // the evolved ones: ReadSchema carries (doc_id, lang) only
    val df = graft.operators.Sink.schemaEvolutionRead(spark, sf0001)
      .select("doc_id", "lang")
    val plan = physical(df)
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema"))
      .getOrElse(fail(s"no ReadSchema in:\n$plan"))
    assert(readSchema.contains("doc_id") && !readSchema.contains("n_chars"),
      readSchema)
  }

  test("q111 evolved layout: partition pruning on the new generation, pushdown on the old") {
    val plan = physical(graft.operators.Sink.partitionEvolutionRead(spark, sf0001))
    // the partitioned generation lists only lang=en (a partition filter)
    val partScan = plan.linesIterator.find(l =>
      l.contains("FileScan") && l.contains("PartitionFilters: [") &&
        !l.contains("PartitionFilters: []"))
    assert(partScan.exists(_.contains("lang")), plan.take(4000))
    // the historical flat generation still pushes lang as a row filter
    val flatScan = plan.linesIterator.find(l =>
      l.contains("FileScan") && l.contains("PushedFilters: [") &&
        l.contains("EqualTo(lang,en)"))
    assert(flatScan.nonEmpty, plan.take(4000))
  }

  test("q112 AQE splits the constructed hot partition (skew=true)") {
    Relational.withSkewConfs(spark) {
      val df = Relational.skewJoinPlan(spark, sf0001)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not mark the skew split:\n${plan.take(4000)}")
    }
  }

  test("q120 plants a runtime bloom filter on the fact side") {
    Relational.withBloomConfs(spark) {
      val df = Relational.bloomJoinPlan(spark, sf0001)
      val plan = df.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain") && plan.contains("bloom_filter_agg"),
        s"no runtime bloom filter injected:\n${plan.take(4000)}")
    }
  }

  test("q13 semi join broadcasts the filtered dimension") {
    val plan = physical(Relational.semiJoin(spark, sf0001))
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      plan.take(3000))
  }

  // The 100 TB kill-switch (no CartesianProduct anywhere; NL joins
  // only where provably bounded) lives in QueryBuildTraitSpec, which
  // constructs every registry frame anyway for the executesOnBuild
  // invariant and therefore sweeps ALL queries — including the
  // on-build set this file's old sweep had to skip.

  /** q173 is in executesOnBuild (its DIM-row calibration collect runs a
    * job at construction); QueryBuildTraitSpec's sweep only checks its
    * post-build frame for cartesians — this test pins the stronger
    * claim: the ENCODE frame must be the documented shape (row-local
    * encode/decode/error over the corpus scan with the calibration
    * vector as a literal: ZERO exchanges, no join of any kind).
    */
  test("q173 encode frame is exchange-free and join-free") {
    val plan = physical(graft.operators.VectorOps.int8Quant(spark, sf0001))
    assert(!plan.contains("Exchange"),
      s"q173 encode frame shuffles or broadcasts:\n${plan.take(3000)}")
    assert(!plan.contains("Join"),
      s"q173 encode frame plans a join:\n${plan.take(3000)}")
  }

  test("q46 pushes the key range into the proto-zst scan and prunes columns") {
    val plan = physical(graft.operators.Sink.keyPushdownScan(spark, sf0001))
    val scanLine = plan.linesIterator
      .find(_.contains("proto-zst PushedFilters"))
      .getOrElse(fail(s"no proto-zst scan description in:\n${plan.take(2000)}"))
    assert(scanLine.contains("GreaterThanOrEqual(key"), scanLine)
    assert(scanLine.contains("LessThan(key"), scanLine)
    assert(scanLine.contains("ReadSchema: struct<key:binary>"), scanLine)
  }

  test("q60 plans fewer partitions than files under a selective key range") {
    val df = graft.operators.Sink.fileSkipScan(spark, sf0001)
    val outDir = graft.operators.Sink.rangedFixture(spark, sf0001)
    val nFiles = new java.io.File(outDir)
      .listFiles((_, n) => n.endsWith(".proto.zst")).length
    val planned = df.rdd.getNumPartitions
    assert(nFiles >= 3, s"fixture wrote only $nFiles files")
    assert(planned < nFiles, s"planned $planned of $nFiles files — no skip")
    // and skipping is SOUND: pushed+skipped result == full-scan-then-filter
    val full = spark.read.format("proto-zst").load(outDir).collect()
      .map(r => new String(r.getAs[Array[Byte]](0)))
      .filter(k => k >= "200" && k < "300").sorted.toSeq
    val got = df.collect().map(_.getString(0)).sorted.toSeq
    assert(got === full)
    assert(got.nonEmpty) // non-vacuous range at sf0.001
  }

  test("q61 two-generation merge over bucketed sink files plans ZERO exchanges") {
    val df = graft.operators.Sink.compactSink(spark, sf0001)
    df.collect() // finalize the (possibly AQE-wrapped) plan
    val plan = physical(df)
    // a storage-partitioned SortMergeJoin: co-bucketed scans line up
    // without any Exchange on either side
    assert(plan.contains("SortMergeJoin"), plan.take(3000))
    assert(!plan.contains("Exchange"),
      s"expected a zero-exchange merge, got:\n${plan.take(3000)}")
    // and the scans' REPORTED key ordering (sidecar-attested sorted
    // single-file buckets) elides the merge join's Sorts too
    assert(!plan.contains("Sort "),
      s"expected sort-free merge via reported ordering:\n${plan.take(3000)}")
  }

  test("reported sidecar statistics make a small sink dir the broadcast side") {
    import org.apache.spark.sql.functions._
    val out = graft.operators.Sink.nestedFixture(spark, sf0001)
    val small = spark.read.format("proto-zst").load(out)
      .select(decode(col("key"), "UTF-8").cast("long").as("k"))
    val big = graft.sources.Tables.lineitem(spark, sf0001)
    // NO hint, NO explicit broadcast(): the scan's estimateStatistics
    // (sidecar row counts + bytes x expansion) must make the planner
    // choose the sink side as the build side on its own — the
    // plan-time decision a stats-less DSv2 relation (unknown = huge)
    // can never make
    val j = big.join(small, big("l_orderkey") === small("k"))
    j.collect()
    val plan = physical(j)
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(plan.contains("BuildRight"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
  }

  test("q89 ordered re-export plans NO Sort and NO Exchange (reported ordering)") {
    val df = graft.operators.Sink.orderedReexportFrame(spark, sf0001)
    df.collect() // finalize the (possibly AQE-wrapped) plan
    val plan = physical(df)
    // the explicit sortWithinPartitions(key) is satisfied by the
    // scan's sidecar-attested reported ordering and elided entirely
    assert(!plan.contains("Sort "),
      s"expected the rewrite's sort to be elided:\n${plan.take(3000)}")
    assert(!plan.contains("Exchange"),
      s"expected a pure-copy rewrite, got:\n${plan.take(3000)}")
    // the rewritten files re-attest sortedness, so the property
    // survives any number of rewrite generations
    val out = graft.operators.Sink.reexportFixture(spark, sf0001)
    val conf = graft.sources.ProtoZstFiles.hadoopConf()
    val files = graft.sources.ProtoZstFiles.list(out, conf)
    val fs = new org.apache.hadoop.fs.Path(out).getFileSystem(conf)
    assert(files.nonEmpty)
    files.foreach { f =>
      val r = graft.sources.FileIndex
        .read(fs, new org.apache.hadoop.fs.Path(f))
      assert(r.nonEmpty && r.get.sorted, f)
    }
  }

  test("q62 per-key aggregation over bucketed sink files plans ZERO exchanges") {
    val df = graft.operators.Sink.bucketedKeyStats(spark, sf0001)
    df.collect()
    val plan = physical(df)
    assert(plan.contains("HashAggregate"), plan.take(3000))
    assert(!plan.contains("Exchange"),
      s"expected a zero-exchange aggregation, got:\n${plan.take(3000)}")
  }

  test("q64 corpus stats are answered from sidecars: no aggregate over data") {
    val df = graft.operators.Sink.sidecarStats(spark, sf0001)
    val plan = physical(df)
    assert(plan.contains("PushedAggregation"),
      s"aggregation not pushed into the source:\n${plan.take(3000)}")
    assert(!plan.contains("HashAggregate") && !plan.contains("SortAggregate"),
      s"expected the aggregate to collapse into the scan:\n${plan.take(3000)}")
    // exactly one planned partition: the precomputed row
    assert(df.rdd.getNumPartitions === 1)
  }

  test("q65 join injects a runtime key filter into the proto-zst scan") {
    val df = graft.operators.Sink.runtimePrunedJoin(spark, sf0001)
    df.collect()
    val plan = physical(df)
    assert(plan.contains("RuntimeFilters: [dynamicpruning"),
      s"no runtime filter on the scan:\n${plan.take(3000)}")
  }

  test("q71 top-k plans TakeOrderedAndProject, not a global sort") {
    val plan = physical(graft.operators.TextAnalysis.heavyHitters(spark, sf0001))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
    assert(!plan.contains("Sort "), s"global sort in:\n${plan.take(3000)}")
  }

  test("q142 BM25 top-k heaps per partition; the rank window sees only k rows") {
    val plan = physical(graft.operators.TextAnalysis.bm25Rank(spark, sf0001))
    // the corpus-wide selection is the bounded heap, not a global sort
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
    // the only Window sits ABOVE the TakeOrdered limit (operates on
    // <= k rows); no Window may touch the pre-limit corpus
    val winIdx = plan.indexOf("Window")
    val takeIdx = plan.indexOf("TakeOrderedAndProject")
    assert(winIdx >= 0 && takeIdx > winIdx,
      s"rank window must consume the TakeOrdered output:\n${plan.take(3000)}")
  }

  test("q75 funnel chains its windows and final agg over ONE exchange") {
    val df = graft.operators.Events.funnel(spark, sf0001)
    df.collect() // finalize the AQE plan
    // an adaptive plan prints Final AND Initial sections — count the final
    val plan = physical(df).split("== Initial Plan ==").head
    val exchanges = plan.linesIterator.count(_.contains("Exchange hash"))
    assert(exchanges === 1, s"expected 1 Exchange, plan:\n$plan")
    assert(plan.linesIterator.count(_.contains("Window ")) === 3, plan)
  }

  test("q79 index lookup prunes the type partition and pushes the day filter") {
    val df = graft.operators.Core.indexLookup(spark, sf0001)
    val plan = physical(df)
    // one FileScan — the index artifact; the corpus is never opened
    assert(plan.linesIterator.count(_.contains("FileScan")) === 1, plan.take(3000))
    assert(!plan.contains("events.parquet"), plan.take(3000))
    val scan = plan.linesIterator.find(_.contains("FileScan")).get
    assert(scan.contains("PartitionFilters") && scan.contains("purchase"), scan)
    assert(scan.contains("PushedFilters") && scan.contains("EqualTo(day"), scan)
  }

  test("q80 as-of read over bucketed sink generations plans ZERO exchanges") {
    val df = graft.operators.Sink.asofRead(spark, sf0001)
    df.collect()
    val plan = physical(df).split("== Initial Plan ==").head
    assert(plan.contains("SortMergeJoin"), plan.take(3000))
    assert(!plan.contains("Exchange"),
      s"expected the time-travel merge to stay exchange-free:\n${plan.take(3000)}")
  }

  test("q81 change feed over bucketed sink generations plans ZERO exchanges") {
    val df = graft.operators.Sink.changeFeed(spark, sf0001)
    df.collect()
    val plan = physical(df).split("== Initial Plan ==").head
    assert(plan.contains("SortMergeJoin"), plan.take(3000))
    assert(!plan.contains("Exchange"),
      s"expected the change-feed join to stay exchange-free:\n${plan.take(3000)}")
  }

  test("row-local text/hash pipelines stay inside whole-stage codegen") {
    import graft.operators.{Dedup, TextAnalysis}
    Seq(
      "q21" -> TextAnalysis.langId(spark, sf0001),
      "q16" -> Dedup.dedupSimhash(spark, sf0001)).foreach { case (n, df) =>
      df.collect() // AQE-planned queries only show codegen stages once run
      val plan = physical(df)
      // `*(n)` is the WholeStageCodegen stage marker in plan toString;
      // higher-order-function projects legitimately sit outside it
      assert(plan.contains("*("), s"$n:\n${plan.take(2000)}")
    }
  }

  /** The round-7 `weak` closure: q159/q167 must select per-group top-k
    * via the bounded-heap Aggregator (≤k rows per group leave each map
    * task as a PARTIAL ObjectHashAggregate), never via a rank window —
    * with few labels / a bounded anchor set over a huge corpus, each
    * window partition is corpus-sized and the plan degenerates to a
    * handful of mega-partition sorts.
    */
  test("q159/q167 plan no rank window; top-k partial-aggregates before the shuffle") {
    import graft.operators.{SimSearch, VectorOps}
    Seq("q159" -> VectorOps.labelCoreset(spark, sf0001),
      "q167" -> VectorOps.negSample(spark, sf0001)).foreach { case (n, df) =>
      val plan = physical(df)
      assert(!plan.contains("Window"),
        s"$n ranks through a window partition:\n${plan.take(3000)}")
      assert(plan.linesIterator.count(_.contains("ObjectHashAggregate")) >= 2,
        s"$n: expected partial+final typed aggregation:\n${plan.take(3000)}")
    }
  }

  test("q159/q167 bounded-heap selection is bit-identical to the rank-window form") {
    import graft.operators.{SimSearch, VectorOps}
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] = {
      val cols = df.columns.sorted.toSeq
      df.select(cols.map(org.apache.spark.sql.functions.col): _*)
        .collect().map(_.toSeq.map(String.valueOf).mkString(""))
        .toSeq.sorted
    }
    assert(canon(VectorOps.labelCoreset(spark, sf0001)) ===
      canon(VectorOps.labelCoresetWindowForm(spark, sf0001)))
    assert(canon(VectorOps.negSample(spark, sf0001)) ===
      canon(VectorOps.negSampleWindowForm(spark, sf0001)))
  }

  test("q24 fingerprint scans only (doc_id, text) and uses the native kernel") {
    val df = graft.operators.TextAnalysis.fingerprint(spark, sf0001)
    val plan = physical(df)
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema"))
      .getOrElse(fail(s"no ReadSchema in:\n$plan"))
    assert(readSchema.contains("doc_id") && readSchema.contains("text") &&
      !readSchema.contains("lang"), readSchema)
    assert(plan.contains("gram_hash60"), plan.take(2000))
  }
}
