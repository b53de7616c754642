package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (sbt forks a single test JVM). */
object SparkTestSession {
  // 4 cores whatever SPARK_GRAFT_CPUS says: specs pin partition-count
  // dependent shapes
  lazy val spark: SparkSession = Harness.session(4)
  val sf0001 = "/root/testdata/sf0.001"
  /** Same 500-document corpus size, different content — the dir for
    * specs whose subject only manifests there (the trained classifier
    * separates sf0.01's corpus but is all-negative on sf0.001's).
    */
  val sf001 = "/root/testdata/sf0.01"
}
