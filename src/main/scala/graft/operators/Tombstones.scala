package graft.operators

import com.github.luben.zstd.{ZstdInputStream, ZstdOutputStream}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.ProtoWire
import graft.sources.{FileIndex, GenManifest, ProtoZstFiles}

/** EQUALITY-DELETE TOMBSTONES — the reference domain's deletion model
  * (Cassandra writes a tombstone cell and lets compaction purge it
  * within gc_grace; `SSTableIdentityIteratorPatched.java:33-78` carries
  * the deletion kinds this engine's cell model decodes as O8) lifted to
  * the TABLE-MAINTENANCE tier, matching Iceberg's equality-delete
  * files:
  *
  *   - [[eraseKeys]] — LOGICAL erasure: write the deleted keys as ONE
  *     small `tomb-*` file and commit ONE manifest entry flagged
  *     `tomb`. Cost is O(erase list) — bytes written, commit record,
  *     latency — regardless of corpus size; at 100 TB that is the
  *     difference between an erasure request acknowledged in
  *     milliseconds and one that rewrites every affected file inline.
  *     Scans subtract the keys row-locally from that commit on
  *     (`ProtoZstReaderFactory.isDeleted`): the deleted rows never
  *     decode their columns, point lookups of erased keys return
  *     empty, and complete-agg pushdown is vetoed until purge so a
  *     metadata COUNT can never overcount.
  *   - [[purge]] — PHYSICAL erasure, the gc_grace compaction: rewrite
  *     ONLY the data files whose attested key range (refined by their
  *     index's bloom) can hold a deleted key, drop every tombstone
  *     entry, ONE atomic manifest swap. Bytes are gone after purge;
  *     the q148 copy-on-write discipline (staged unreferenced names,
  *     commit last, originals deleted after) keeps readers on the old
  *     or new table, never between.
  *
  * The two-step split is the GDPR posture Cassandra itself takes:
  * instant logical invisibility, physical removal within the
  * maintenance window. The direct rewrite ([[SinkMaintain.eraseRange]],
  * q148; [[Releases.packErase]], q213) remains for callers who need
  * bytes gone in the same call.
  */
object Tombstones {

  private def hex(b: Array[Byte]): String =
    b.map(x => "%02x".format(x & 0xff)).mkString

  /** LOGICAL erasure: commit `keys` as one equality-delete tombstone
    * file. O(erase list) I/O; no data file is opened, copied, or
    * rewritten. Requires a manifest-governed directory — on an
    * ungoverned one a first commit would make the (tombstone-only)
    * manifest authoritative and hide every existing data file.
    * Returns the committed snapshot.
    *
    * `eraseTimeUs` stamps the request instant into the entry's time
    * range (wall clock by default; tests pass explicit instants) —
    * what [[purge]]'s gc_grace cutoff ages against.
    */
  def eraseKeys(dir: String, keys: Seq[Array[Byte]],
      eraseTimeUs: Long = System.currentTimeMillis() * 1000L)
      : GenManifest.Snapshot = {
    require(keys.nonEmpty, "eraseKeys with no keys erases nothing")
    val conf = ProtoZstFiles.hadoopConf()
    require(GenManifest.read(dir, conf).isDefined,
      s"eraseKeys requires a manifest-governed directory with a " +
        s"committed snapshot: $dir")
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = ProtoZstFiles.fs(dirPath, conf)
    // dedupe + unsigned sort: the file doubles as the scan's anti-set,
    // and sorted keys give the entry a true min/max range for free —
    // purge then range-prunes data files against it like any other
    // predicate
    val sorted = keys.distinctBy(_.toSeq).toArray
      .sortWith(java.util.Arrays.compareUnsigned(_, _) < 0)
    val runId = java.util.UUID.randomUUID().toString.replace("-", "")
    val name = s"tomb-$runId.proto.zst"
    val tmp = new org.apache.hadoop.fs.Path(dirPath, s".tomb-$runId")
    val os = new ZstdOutputStream(fs.create(tmp, true))
    try {
      val empty = new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Any])
      sorted.foreach(k =>
        os.write(ProtoWire.encodeDelimited(k, empty)))
    } finally os.close()
    val dst = new org.apache.hadoop.fs.Path(dirPath, name)
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(
        s"tombstone publish refused for $tmp -> $dst; table unchanged")
    val entry = GenManifest.Entry(name, fs.getFileStatus(dst).getLen,
      sorted.length.toLong, sorted = true,
      hex(sorted.head), hex(sorted.last),
      times = Some((eraseTimeUs, eraseTimeUs)), tomb = true)
    GenManifest.append(dir, conf, Seq(entry))
  }

  /** PHYSICAL purge of ripe tombstones: rewrite the data files that
    * can hold a deleted key, drop the purged tombstone entries, one
    * atomic swap. File selection is two-stage and reads no data —
    * attested key-range intersection first, then a bloom probe of the
    * index of each surviving candidate (blooms have no false
    * negatives, so a file every key misses is provably clean and
    * spared the rewrite). Returns (data files rewritten, tombstone files
    * dropped); (0, 0) when nothing is ripe.
    *
    * `olderThanUs` is the gc_grace cutoff: only tombstones stamped
    * BEFORE it purge; younger ones survive the commit and keep
    * shadowing their keys. Cassandra's grace protects deletes that
    * have not reached every replica; the engine analog protects
    * deletes that have not reached every INCREMENTAL CONSUMER — a
    * version-delta reader (q204) syncing less often than the purge
    * cadence must still observe the tombstone entry, so grace ≥ the
    * slowest consumer's lag. The default purges everything (the
    * no-consumers deployment). Pre-grace-era tombstones (no stamp)
    * are conservatively treated as ripe only under the default
    * everything-cutoff.
    */
  def purge(spark: SparkSession, dir: String,
      olderThanUs: Long = Long.MaxValue): (Int, Int) = {
    val conf = ProtoZstFiles.hadoopConf()
    val dirPath = new Path(dir)
    val fs = ProtoZstFiles.fs(dirPath, conf)
    val snap = GenManifest.read(dir, conf).getOrElse(
      throw new IllegalStateException(
        s"purge requires a manifested directory: $dir"))
    val tombs = snap.tombEntries.filter(e =>
      olderThanUs == Long.MaxValue || e.times.exists(_._2 < olderThanUs))
    if (tombs.isEmpty) return (0, 0)
    // the shared format reader (scan anti-set and purge can never
    // drift); UNCAPPED — purge is the remedy for an over-cap backlog
    val deleted: Array[Array[Byte]] = graft.sources.TombstoneKeys.read(
      tombs.map(e => (new Path(dirPath, e.name).toString, e.bytes)),
      conf, cap = None)
    import java.util.Arrays.compareUnsigned
    val ranged = snap.dataEntries.filter { e =>
      // conservative: a file with no recorded range might hold anything
      !e.hasRange || deleted.exists(k =>
        compareUnsigned(k, e.min) >= 0 && compareUnsigned(k, e.max) <= 0)
    }
    val touched = ranged.filter { e =>
      FileIndex.read(fs, new Path(dirPath, e.name))
        .forall(i => deleted.exists(i.mightContain))
    }
    // the rewritten originals AND the tombstone files retire in one
    // commit: after it, neither the erased rows' bytes nor the erased
    // KEYS themselves (also personal data) remain on disk
    val retired = touched ++ tombs
    if (touched.isEmpty) SinkMaintain.retire(dir, conf, retired)
    else SinkMaintain.stagedSwap(dir, conf, ".purge-", "purged-", retired) {
      staging =>
        // survivor filter as a broadcast LEFT ANTI join against the
        // tombstone files themselves (they are proto-zst rows with
        // empty columns) — NOT an In-list of per-key Literals. purge
        // is the documented remedy for an over-cap tombstone backlog,
        // so the anti-set here can be millions of keys: an isin() of
        // that size drags every key through Catalyst analysis as a
        // binary Literal before InSet conversion and can stall or OOM
        // the driver exactly when purge is most needed. The anti join
        // broadcasts the deduped key column once (bytes, not
        // expression nodes) and probes it hash-wise inside codegen.
        val anti = spark.read.format("proto-zst")
          .load(tombs.map(e => new Path(dirPath, e.name).toString): _*)
          .select(col("key").as("tomb_key")).distinct()
        spark.read.format("proto-zst")
          .load(touched.map(e => new Path(dirPath, e.name).toString): _*)
          .join(broadcast(anti), col("key") === col("tomb_key"), "left_anti")
          .write.format("proto-zst").mode("append").save(staging)
    }
    (touched.length, tombs.length)
  }

  /** The fixtures' erase slice: one lexicographic unit of the key
    * domain ("12", "120".."129", "1200"..), populated at EVERY test sf
    * (sf0.001's key domain only reaches "14") while the erase LIST
    * (every distinct key in it) stays tens-to-hundreds of keys — a
    * realistic right-to-be-forgotten request size.
    */
  private val TombLo = "12"
  private val TombHi = "13"

  /** Distinct corpus keys inside [[TombLo]], [[TombHi]]) — the explicit
    * erase list a production request would carry. Bounded collect: a
    * one-unit lexicographic slice of the key domain (tens-to-hundreds
    * of keys at any sf), never the corpus.
    */
  private def eraseList(spark: SparkSession, out: String): Seq[Array[Byte]] = {
    val keys = spark.read.format("proto-zst").load(out)
      .select(col("key")).filter(
        col("key") >= lit(TombLo.getBytes("UTF-8")) &&
          col("key") < lit(TombHi.getBytes("UTF-8")))
      .distinct().collect().map(_.getAs[Array[Byte]](0)).toSeq
    require(keys.nonEmpty,
      "tombstone fixture found no keys to erase — widen the slice")
    keys
  }

  /** q237 fixture: a fresh range-partitioned manifested generation with
    * the [[TombLo]], [[TombHi]]) keys LOGICALLY erased — one tombstone
    * commit, zero data files rewritten (the builder asserts the data
    * file set is untouched by name).
    */
  private val tombFixture = SessionFixture("tomb") {
    (spark, dir) =>
      val out = Scratch.dir("graft_tomb")
      Sink.writeNested(CellModel.nestRows(spark, dir)
        .repartitionByRange(8, col("key")), out)
      val conf = ProtoZstFiles.hadoopConf()
      val before = GenManifest.read(out, conf).get.entries.map(_.name).toSet
      eraseKeys(out, eraseList(spark, out))
      val after = GenManifest.read(out, conf).get
      require(after.dataEntries.map(_.name).toSet == before,
        "logical erase must leave every data file untouched")
      require(after.tombEntries.length == 1,
        "logical erase must commit exactly one tombstone entry")
      out
  }

  /** q238 fixture: an independent generation taken through the FULL
    * tombstone lifecycle — logical erase, then physical purge. The
    * builder asserts the purge was surgical (some files rewritten,
    * some spared) and left no tombstone entries.
    */
  private val purgedFixture = SessionFixture("tombpurge") {
    (spark, dir) =>
      val out = Scratch.dir("graft_tombpurge")
      Sink.writeNested(CellModel.nestRows(spark, dir)
        .repartitionByRange(8, col("key")), out)
      eraseKeys(out, eraseList(spark, out))
      val (rewritten, dropped) = purge(spark, out)
      val snap = GenManifest.read(out, ProtoZstFiles.hadoopConf()).get
      require(rewritten >= 1 && dropped == 1 &&
        snap.dataEntries.length > rewritten && snap.tombEntries.isEmpty,
        s"purge fixture must rewrite some files and spare others " +
          s"(rewritten=$rewritten dropped=$dropped) or it proves nothing")
      out
  }

  /** q237: LOGICAL-ERASURE READBACK — the corpus through the manifest
    * scan with a live tombstone. The oracle rebuilds the table minus
    * the erased slice, so hash equality proves the anti-set semantics
    * both ways: every erased key invisible, every survivor
    * byte-complete. The zero-rewrite and O(erase list) commit facts are
    * pinned by TombstoneSpec, not the oracle.
    */
  def tombstoneRead(spark: SparkSession, dir: String): DataFrame = {
    val out = tombFixture(spark, dir)
    spark.read.format("proto-zst").load(out)
      .select(decode(col("key"), "UTF-8").as("key"),
        size(col("columns")).cast("long").as("n_cells"))
  }

  /** q238: POST-PURGE READBACK — corpus totals after physical purge.
    * Same logical table as q237 (purge must not change what a reader
    * sees — only what is on disk), aggregated to corpus grain so the
    * two queries pin different projections of the lifecycle.
    */
  def purgedRead(spark: SparkSession, dir: String): DataFrame = {
    val out = purgedFixture(spark, dir)
    spark.read.format("proto-zst").load(out)
      .select(col("key"), size(col("columns")).cast("long").as("n_cells"))
      .agg(count(lit(1)).as("n_keys"), sum(col("n_cells")).as("sum_cells"),
        min(decode(col("key"), "UTF-8")).as("min_key"),
        max(decode(col("key"), "UTF-8")).as("max_key"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q237_tombstone_erase" -> tombstoneRead,
    "q238_tombstone_purge" -> purgedRead)

  private val erasedTableSql =
    s"SELECT key, count(CASE WHEN kind = 'live' THEN 1 END) AS n_cells " +
      s"FROM (${Core.cellsSql}) " +
      s"WHERE NOT partition_deleted AND NOT (key >= '$TombLo' AND key < '$TombHi') " +
      "GROUP BY key"

  val oracle: Map[String, String] = Map(
    // the erased slice is invisible, everything else survives
    // byte-complete — q148's contract reached by an anti-set instead
    // of a rewrite
    "q237_tombstone_erase" -> erasedTableSql,
    // purge preserves the logical table exactly (it only changes what
    // is on disk): corpus totals over the same erased-table frame
    "q238_tombstone_purge" ->
      (s"SELECT count(*) AS n_keys, CAST(sum(n_cells) AS BIGINT) AS sum_cells, " +
        s"min(key) AS min_key, max(key) AS max_key FROM ($erasedTableSql)"))
}
