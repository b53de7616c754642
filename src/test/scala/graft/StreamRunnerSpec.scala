package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Streaming

/** The one stream runner: it scopes the state layout to the query,
  * restores the session conf however the query ends, and names each
  * memory sink apart.
  */
class StreamRunnerSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private def freshDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toFile.getAbsolutePath

  /** A bounded stream over one parquet file of `n` rows (k = i % 3). */
  private def source(n: Int): DataFrame = {
    val dir = freshDir("graft_runner_src")
    spark.range(n).select((col("id") % 3).as("k"), col("id").as("v"))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    spark.readStream.schema("k LONG, v LONG").parquet(dir)
  }

  private val scopedKeys = Seq("spark.sql.shuffle.partitions",
    "spark.sql.streaming.stateStore.providerClass")

  test("a query that fails inside foreachBatch leaves the session conf as it was") {
    val before = scopedKeys.map(spark.conf.getOption)
    val seen = new java.util.concurrent.atomic.AtomicReference[String]
    val fail: (DataFrame, Long) => Unit = { (batch, _) =>
      seen.set(batch.sparkSession.conf.get("spark.sql.shuffle.partitions"))
      throw new IllegalStateException("batch refused")
    }
    intercept[StreamingQueryException] {
      Streaming.drain(spark, Some(3), rocksDb = true) {
        source(10).writeStream
          .option("checkpointLocation", freshDir("graft_runner_ck"))
          .foreachBatch(fail)
      }
    }
    assert(seen.get === "3", "the batch must run inside the scope")
    assert(scopedKeys.map(spark.conf.getOption) === before)
  }

  test("a stateful aggregation keeps the state partitions it was drained with") {
    val q = Streaming.drain(spark, Some(Streaming.StatePartitions)) {
      source(30).groupBy(col("k")).agg(count(lit(1)).as("n"))
        .writeStream.format("memory").queryName(s"runner_state_${System.nanoTime()}")
        .outputMode("complete")
    }
    assert(Streaming.StatePartitions !== spark.conf.get("spark.sql.shuffle.partitions").toInt)
    assert(q.lastProgress.stateOperators(0).numShufflePartitions ===
      Streaming.StatePartitions.toLong)
  }

  test("two memory-sink runs under one label do not collide") {
    def views = spark.catalog.listTables().collect().map(_.name)
      .count(_.startsWith("runner_label_sink_"))
    val was = views
    val a = Streaming.drainToMemory(spark, "runner_label", "append")(source(4))
    val b = Streaming.drainToMemory(spark, "runner_label", "append")(source(7))
    assert(views === was + 2)
    assert(a.count() === 4L && b.count() === 7L)
  }
}
