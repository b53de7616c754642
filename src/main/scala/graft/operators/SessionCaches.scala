package graft.operators

import org.apache.spark.sql.SparkSession

/** One session-scoped memo of a derived artifact: an on-disk sink
  * fixture, a trained centroid table or codebook, a checkpointed
  * derived table. `build` runs at most once per (SparkContext, sf dir)
  * and every later `apply` returns its value.
  *
  * - Keys carry the context's applicationId: localCheckpoint blocks
  *   and catalog tables die with the context that made them, so a
  *   value must never outlive it. Every call first evicts entries of
  *   any other (dead) context, so a JVM that cycles sessions holds at
  *   most one application's worth of values.
  * - First builds are serialized on the instance's own lock: two
  *   threads racing the first use would otherwise both run `build`
  *   and race the same on-disk directory or table names. One lock per
  *   instance, so a build that reads other fixtures takes their locks
  *   in dependency order and unrelated fixtures never wait on each
  *   other.
  * - Every instance registers with [[SessionCaches]] when its owning
  *   module initializes.
  */
final class SessionFixture[V](val name: String)(
    build: (SparkSession, String) => V) {
  private val entries = scala.collection.mutable.HashMap.empty[(String, String), V]

  def apply(spark: SparkSession, dir: String): V = synchronized {
    val app = spark.sparkContext.applicationId
    entries.filterInPlace { case ((a, _), _) => a == app }
    entries.get((app, dir)) match {
      case Some(v) => v
      case None =>
        val v = build(spark, dir)
        entries((app, dir)) = v
        v
    }
  }

  private[operators] def clear(): Unit = synchronized(entries.clear())

  /** Capture the current entries; the returned thunk resets the
    * instance to exactly them (dropping anything added since).
    */
  private[operators] def snapshot(): () => Unit = {
    val copy = synchronized(entries.toMap)
    () => synchronized { entries.clear(); entries ++= copy; () }
  }

  SessionCaches.add(this)
}

object SessionFixture {
  def apply[V](name: String)(
      build: (SparkSession, String) => V): SessionFixture[V] =
    new SessionFixture(name)(build)
}

/** Registry of every [[SessionFixture]].
  *
  * Only specs call it. `QueryBuildTraitSpec`'s construction sweep
  * needs it: the `QueryTraits.executesOnBuild` invariant is defined against
  * construction from a known cache state, which is only observable
  * with the ability to clear every cache (cold start) and to restore
  * a snapshot (per-query isolation). Both are always safe — every
  * build is deterministic and rebuilds the same value — just
  * wasteful, which is why no program code calls them.
  * `SessionFixtureSpec` checks both on counting instances.
  */
private[graft] object SessionCaches {
  private val fixtures = scala.collection.mutable.ArrayBuffer.empty[SessionFixture[_]]

  private[operators] def add(f: SessionFixture[_]): Unit =
    synchronized { fixtures += f; () }

  // iterate a copy: a fixture's lock is never taken under the registry's
  private def all: List[SessionFixture[_]] = synchronized(fixtures.toList)

  private[graft] def clearAll(): Unit = all.foreach(_.clear())

  /** Capture every registered fixture; the returned thunk restores all
    * of them to the captured state.
    */
  private[graft] def snapshotAll(): () => Unit = {
    val restorers = all.map(_.snapshot())
    () => restorers.foreach(_.apply())
  }
}
