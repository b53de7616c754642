package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The one session shape every entry point runs: Bench, Verify, the
  * tools and the test JVM. Numbers from one of them transfer to the
  * others because only the core count (and Bench's scratch dirs)
  * differ.
  */
object Harness {
  /** `SPARK_GRAFT_CPUS`, default 4: the local core count and shuffle
    * partition count of every entry point that does not pin its own.
    */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def session(cpus: Int, extra: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // pin the session timezone in code (not only via sbt javaOptions)
      // so date predicates select the same rows under any launcher
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    val spark = extra.foldLeft(b) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Untimed warm-up: initialize codegen/JIT, shuffle machinery, the
    * parquet reader and the streaming stack (state store, offset/commit
    * logs) once, so the first timed query measures the query, not
    * session bring-up (it was absorbing 7-20s of one-time cost).
    * Best-effort: a failure here only leaves the first query cold.
    */
  def warm(spark: SparkSession, dir: String): Unit =
    try {
      spark.read.parquet(s"$dir/region.parquet")
        .withColumn("h", graft.functions.HashOps.md5_prefix60(col("r_name")))
        .groupBy(col("r_regionkey")).agg(count(lit(1))).count()
      val schema = spark.read.parquet(s"$dir/region.parquet").schema
      spark.readStream.schema(schema)
        .option("pathGlobFilter", "region.parquet").parquet(dir)
        .groupBy(col("r_regionkey")).agg(count(lit(1)))
        .writeStream.format("memory").queryName("bench_warmup")
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        .awaitTermination()
    } catch { case _: Throwable => () }
}
