package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{SessionCaches, SessionFixture}

/** The session-fixture protocol on instances whose values are build
  * counters, so no Spark job runs: the session is only the source of
  * the applicationId key.
  */
class SessionFixtureSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def counting(name: String): (SessionFixture[Int], AtomicInteger) = {
    val builds = new AtomicInteger
    (SessionFixture(name)((_, _) => builds.incrementAndGet()), builds)
  }

  test("8 threads racing the first use run build exactly once") {
    val builds = new AtomicInteger
    val f = SessionFixture("spec_race") { (_, _) =>
      Thread.sleep(50) // widen the window a second build would race in
      builds.incrementAndGet()
    }
    val go = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val results = Seq.fill(8)(pool.submit(() => { go.await(); f(spark, "d") }))
      go.countDown()
      assert(results.map(_.get(60, TimeUnit.SECONDS)).toSet === Set(1))
      assert(builds.get === 1)
    } finally pool.shutdown()
  }

  test("each dir builds once; clearAll makes the next use rebuild") {
    val (f, builds) = counting("spec_clear")
    assert(f(spark, "a") === 1)
    assert(f(spark, "b") === 2)
    assert(f(spark, "a") === 1)
    SessionCaches.clearAll()
    assert(f(spark, "a") === 3)
    assert(builds.get === 3)
  }

  test("a snapshotAll restorer drops an entry added after the snapshot") {
    val (f, builds) = counting("spec_snapshot")
    assert(f(spark, "kept") === 1)
    val restore = SessionCaches.snapshotAll()
    assert(f(spark, "added") === 2)
    restore()
    assert(f(spark, "kept") === 1)
    assert(f(spark, "added") === 3)
    assert(builds.get === 3)
  }

  test("fixtureBuilds holds Bench's 24 fixture rows, unique, in order") {
    val expected = Seq("sink_nested", "sink_ranged", "sink_generations",
      "sink_optimized", "sink_reexport", "sink_vacuumed", "sink_evolved",
      "sink_layout", "release_export", "index_2i", "centroids_k8",
      "pq_codebooks", "ivfpq_residual_books", "bucketed_tables",
      "copurchase_edges", "minhash_pairs", "dup_clusters", "ccnet_buckets",
      "eval_slate", "ngram_tables", "hybrid_rrf", "classifier_train",
      "boiler_inventory", "mixture_rates")
    val names = SparkEntry.fixtureBuilds.map(_.name)
    assert(names === expected)
    assert(names.distinct === names)
  }
}
