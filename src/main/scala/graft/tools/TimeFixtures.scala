package graft.tools

import org.apache.spark.sql.SparkSession

/** Time each session fixture's cold build at bench conditions —
  * the `fixture:*` bench rows, standalone, for fixture-build A/Bs.
  * `runMain graft.tools.TimeFixtures`.
  */
object TimeFixtures {
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
    import org.apache.spark.sql.functions._
    spark.read.parquet(s"$dir/region.parquet")
      .withColumn("h", graft.functions.HashOps.md5_prefix60(col("r_name")))
      .groupBy(col("r_regionkey")).agg(count(lit(1))).count()
    val wanted: Option[Set[String]] = if (args.isEmpty) None
      else Some(args.toSet)
    graft.SparkEntry.fixtureBuilds.foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      fn(spark, dir)
      val dt = (System.nanoTime() - t0) / 1e9
      if (wanted.forall(_.exists(name.contains)))
        println(f"$name%-34s $dt%6.2f s")
    }
    spark.stop()
  }
}
