package graft.tools
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.Harness.session(graft.Harness.cpus)
    val df = graft.SparkEntry.entry(spark)
    println("ENTRY-ROWS: " + df.count())
    df.show(3, false)
    spark.stop()
  }
}
