package graft.tools
import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler._

/** Per-query cost decomposition at bench conditions:
  * `runMain graft.tools.Probe <query> [<query> ...]` — splits each run
  * into frame-build / analyze+optimize+physical-plan / execute wall
  * time, and counts jobs/stages/tasks + per-stage task time so plan
  * overhead (scheduling many tiny stages) is distinguishable from
  * genuine compute. Uses the SAME session shape as Bench (local[32],
  * shuffle.partitions=32, extensions) so numbers transfer.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // bench-identical warmup
    import org.apache.spark.sql.functions._
    spark.read.parquet(s"$dir/region.parquet")
      .withColumn("h", graft.functions.HashOps.md5_prefix60(col("r_name")))
      .groupBy(col("r_regionkey")).agg(count(lit(1))).count()
    try graft.SparkEntry.fixtureBuilds.foreach(_._2(spark, dir))
    catch { case e: Throwable =>
      System.err.println(s"[probe] fixture warm failed: ${e.getMessage}") }

    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0L
    @volatile var taskMs = 0L
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages += 1
        tasks += s.stageInfo.numTasks
        taskMs += (s.stageInfo.completionTime.getOrElse(0L) -
          s.stageInfo.submissionTime.getOrElse(0L))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    args.foreach { name =>
      (1 to 3).foreach { i =>
        jobs = 0; stages = 0; tasks = 0; taskMs = 0
        val t0 = System.nanoTime()
        val df = graft.SparkEntry.queries(name)(spark, dir)
        val t1 = System.nanoTime()
        val buildJobs = jobs
        df.queryExecution.executedPlan // force analyze+optimize+physical
        val t2 = System.nanoTime()
        val n = df.count()
        val t3 = System.nanoTime()
        graft.operators.Checkpoints.drainPrivate()
        println(f"$name run$i: build=${(t1 - t0) / 1e9}%.2f (jobs=$buildJobs) " +
          f"plan=${(t2 - t1) / 1e9}%.2f exec=${(t3 - t2) / 1e9}%.2f " +
          f"total=${(t3 - t0) / 1e9}%.2f jobs=$jobs stages=$stages " +
          f"tasks=$tasks stageWallMs=$taskMs rows=$n")
      }
    }
    spark.stop()
  }
}
