package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Generation compaction — the reconcile step the reference's data model
  * implies: Cassandra merges multiple SSTable generations of the same
  * table by taking, per (partition key, cell name), the cell with the
  * highest writeTime, with tombstones shadowing older live cells
  * (SURVEY.md §1; the reference reads exactly one generation,
  * `service/SSTableReader.java:79-107`, but the on-disk model it decodes
  * is the post-compaction contract this operator implements).
  *
  * Generations are derived deterministically from the `events` cell
  * model so the DuckDB oracle can replay the identical merge:
  * generation 0 is [[CellModel.cellStrings]]; generation 1 is an
  * overlay of updates (keys ≡ 2 mod 5: new value, +1h writeTime) and
  * cell tombstones (keys ≡ 4 mod 5: deletion at +1h). ONE builder
  * ([[generations]]) feeds q53 and q154, and ONE CTE string feeds both
  * oracles, so the merge contract and the gc contract can never drift.
  *
  * Scale shape: ONE shuffle, on (key, name) — `max(struct(...))` is a
  * hash aggregation with map-side partials, so co-located generations
  * (e.g. both read from the key-ordered sink format) combine before the
  * exchange. This is exactly how a 100 TB multi-generation merge wants
  * to run: no window over whole partitions, no sort, bounded state per
  * (key, name) group.
  */
object Compaction {

  private val HourUs = 3600000000L // writeTime is µs

  /** The two-generation union (gen 0 + overlay gen 1), all cell kinds,
    * partition tombstones still attached — the shared q53/q154 input.
    */
  private def generations(spark: SparkSession, dir: String): DataFrame = {
    val gen0 = CellModel.cellStrings(spark, dir)
      .withColumn("gen", lit(0))
    val live0 = gen0.filter(col("kind") === "live")
    val updates = live0
      .filter(col("key").cast("long") % 5 === 2)
      .withColumn("value", concat(col("value"), lit("@2")))
      .withColumn("write_time", col("write_time") + HourUs)
      .withColumn("gen", lit(1))
    val tombstones = live0
      .filter(col("key").cast("long") % 5 === 4)
      .withColumn("value", lit(""))
      .withColumn("write_time", col("write_time") + HourUs)
      .withColumn("kind", lit("deleted"))
      .withColumn("gen", lit(1))
    gen0.unionByName(updates).unionByName(tombstones)
  }

  /** Newest-cell-wins merge: per (key, name), the lexicographic
    * struct-max picks the highest (write_time, gen) — the shared
    * reconcile kernel of q53 and q154.
    */
  private def mergedOf(u: DataFrame): DataFrame =
    u.filter(!col("partition_deleted"))
      .groupBy(col("key"), col("name"))
      // lexicographic struct max == newest writeTime wins (generation as
      // tie-break; unique here since the overlay always bumps the time)
      .agg(max(struct(col("write_time"), col("gen"), col("kind"),
        col("value"))).as("w"))

  private def merged(spark: SparkSession, dir: String): DataFrame =
    mergedOf(generations(spark, dir))

  /** q53: newest-cell-wins merge of two generations with tombstone
    * shadowing. Output: the reconciled live cell set, tagged with the
    * generation each surviving cell came from.
    */
  def compact(spark: SparkSession, dir: String): DataFrame =
    merged(spark, dir)
      .filter(col("w.kind") === "live")
      .select(col("key"), col("name"), col("w.value").as("value"),
        col("w.write_time").as("write_time"), col("w.gen").as("gen"))

  private val GraceUs = 15L * 24 * 3600 * 1000000L // gc_grace analog: 15 days

  /** q154: GC-GRACE TOMBSTONE PURGE — q53 drops every deletion marker,
    * which is only safe when the compaction provably saw ALL
    * generations; Cassandra's real contract (gc_grace_seconds) RETAINS
    * markers younger than the grace window, because a marker purged
    * too early lets an unmerged older generation (or a lagging
    * replica) resurrect the deleted cell on the next merge. This
    * operator emits the post-compaction cell set under that contract:
    * live winners pass through; tombstone winners PURGE their shadowed
    * data always, but the marker row itself survives iff
    * `write_time ≥ max(write_time) − grace` (the horizon is derived
    * from the data so both engines compute it identically, as a
    * broadcast 1-row scalar — no driver-side collect).
    *
    * Scale: the same single (key, name) hash-aggregation shuffle as
    * q53 plus a scalar broadcast; grace filtering is row-local on the
    * merged output. At 100 TB the retained-marker fraction is what a
    * size-tiered store carries between majors — this query is the
    * audit that measures it (`kind` column: 'live' vs 'deleted').
    */
  def gcGrace(spark: SparkSession, dir: String): DataFrame =
    gcGraceOf(generations(spark, dir))

  /** The q154 kernel over an explicit generation-union frame — exposed
    * for the resurrection/retention semantics spec.
    */
  private[graft] def gcGraceOf(u: DataFrame): DataFrame = {
    val cutoff = u.filter(!col("partition_deleted"))
      .agg((max(col("write_time")) - GraceUs).as("gc_cutoff"))
    graft.functions.Portable.withScalar(mergedOf(u), cutoff)
      .filter(col("w.kind") === "live" ||
        (col("w.kind") === "deleted" &&
          col("w.write_time") >= col("gc_cutoff")))
      .select(col("key"), col("name"), col("w.kind").as("kind"),
        col("w.value").as("value"), col("w.write_time").as("write_time"),
        col("w.gen").as("gen"))
  }

  /** Integer-only tier function: tier = ⌊log₄(rows)⌋ as a CASE chain —
    * the SAME SQL string runs in both engines, so no float log can
    * drift the boundary. 15 tiers cover 4^15 ≈ 10⁹ rows per file.
    */
  private def tierCase(c: String): String =
    (0 until 15).map(k => s"WHEN $c < ${1L << (2 * (k + 1))} THEN $k")
      .mkString("CASE ", " ", " ELSE 15 END")

  /** Deterministic multi-file generation layout for q153: nested rows
    * split into 11 files by partition-key groups (8 small: key%32 =
    * 0..7; 2 medium: 4 mods each; 1 large: the remaining 16 mods), so
    * every file's ROW COUNT is a pure function of the data and the
    * DuckDB oracle can replay the planner without reading the sink.
    */
  private[graft] val tieredFixture = SessionFixture("tiered") {
    (spark, dir) =>
      val out = Scratch.dir("graft_tiered")
      val nested = CellModel.nestRows(spark, dir)
        .withColumn("g", col("key").cast("string").cast("long") % 32)
      def part(p: org.apache.spark.sql.Column): DataFrame =
        nested.filter(p).drop("g").coalesce(1)
      (0 to 7).foreach(g => Sink.writeNested(part(col("g") === g), out))
      Sink.writeNested(part(col("g") >= 8 && col("g") <= 11), out)
      Sink.writeNested(part(col("g") >= 12 && col("g") <= 15), out)
      Sink.writeNested(part(col("g") >= 16), out)
      out
  }

  /** q153: SIZE-TIERED COMPACTION PLANNING from the generation
    * MANIFEST — Cassandra's STCS decision ("bucket files of similar
    * size; compact any bucket with ≥ min_threshold = 4 files"),
    * planned WITHOUT opening a single data file: the sink's manifest
    * already carries per-file row counts ([[graft.sources.GenManifest]]),
    * so the planner reads one KB-sized snapshot and the whole decision
    * is arithmetic over ≤ generations-many rows. That is the 100 TB
    * point: with millions of files, the thing that must never be
    * O(data) — or even O(listStatus) — is the compaction SCHEDULER;
    * here it is O(manifest). Tiers are ⌊log₄(rows)⌋ ([[tierCase]] —
    * integer CASE, shared verbatim with the oracle), `compact = 1`
    * marks tiers at Cassandra's default min_threshold.
    *
    * The oracle recomputes every file's row count from the RAW table
    * (the split rule is content-keyed), so the hash gate also proves
    * the manifest's counts are truthful — the planner's input audit
    * and the plan itself in one check.
    */
  def sizeTiered(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = tieredFixture(spark, dir)
    val snap = graft.sources.GenManifest
      .read(out, spark.sessionState.newHadoopConf())
      .getOrElse(sys.error(s"q153: no manifest under $out"))
    snap.dataEntries.map(e => (e.name, e.count)).toDF("file", "n_rows")
      .filter(col("n_rows") > 0)
      .withColumn("tier", expr(tierCase("n_rows")))
      .groupBy(col("tier"))
      .agg(count(lit(1)).as("n_files"), sum(col("n_rows")).as("sum_rows"),
        min(col("n_rows")).as("min_rows"), max(col("n_rows")).as("max_rows"))
      .withColumn("compact", (col("n_files") >= 4).cast("int"))
      .select(col("tier"), col("n_files"), col("sum_rows"),
        col("min_rows"), col("max_rows"), col("compact"))
  }

  // Deterministic leveled layout for q156: two LEVELS in two sink
  // directories (levels are separate rowsets with separate manifests).
  // L0 holds two mutually-overlapping lexicographic key slices (the
  // unsorted-flush shape); L1 holds three DISJOINT slices (the sorted
  // run). ':' is the exclusive upper sentinel (ASCII after '9').
  private val L0Slices = Seq(("1", "4"), ("3", "7"))
  private val L1Slices = Seq(("0", "3"), ("3", "6"), ("6", ":"))

  private[graft] def buildLeveled(spark: SparkSession,
      dir: String): (String, String) = {
    val nested = CellModel.nestRows(spark, dir)
      .withColumn("ks", col("key").cast("string"))
    val (out0, out1) = (Scratch.dir("graft_l0"), Scratch.dir("graft_l1"))
    def slice(lo: String, hi: String): DataFrame =
      nested.filter(col("ks") >= lo && col("ks") < hi).drop("ks")
        .coalesce(1)
    L0Slices.foreach { case (lo, hi) =>
      Sink.writeNested(slice(lo, hi), out0) }
    L1Slices.foreach { case (lo, hi) =>
      Sink.writeNested(slice(lo, hi), out1) }
    (out0, out1)
  }

  private[graft] val leveledFixture = SessionFixture("leveled")(buildLeveled)
  // the same two levels, a copy that leveledCompact promotes in place
  private val leveledExecFixture = SessionFixture("leveledexec")(buildLeveled)

  /** q156: LEVELED COMPACTION PLANNING from manifest KEY RANGES — the
    * other half of Cassandra's compaction strategy menu (LCS; q153 is
    * STCS): promoting an L0 file means rewriting every L1 file whose
    * key range OVERLAPS it, so the planner's whole job is an interval
    * join over per-file [min, max] key ranges. Those ranges live in
    * the generation manifest ([[graft.sources.GenManifest.Entry]]
    * minHex/maxHex — observed free at write time), so, like q153, the
    * plan is computed from KB-sized metadata: no data file is opened,
    * no directory listed. Output: per L0 file (identified by its
    * min/max keys — file NAMES are task-random, ranges are content),
    * the L1 fan-in and the total rows the promotion rewrites — the
    * write-amplification figure an LCS scheduler budgets against.
    *
    * The oracle recomputes each slice's range and count from the raw
    * table, so the hash also audits that the manifest's ranges are
    * truthful — same double duty as q153.
    *
    * Scale: the interval join is over manifest rows (files), not data;
    * at millions of files it is the classic bucketed interval join
    * (q67) over the metadata tier — still never O(data).
    */
  def leveledPlan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (l0Dir, l1Dir) = leveledFixture(spark, dir)
    val conf = spark.sessionState.newHadoopConf()
    def entries(d: String) = graft.sources.GenManifest.read(d, conf)
      .getOrElse(sys.error(s"q156: no manifest under $d"))
      .dataEntries.filter(_.count > 0)
      .map(e => (new String(e.min, "UTF-8"), new String(e.max, "UTF-8"),
        e.count))
    val l0 = entries(l0Dir).toDF("mn0", "mx0", "rows0")
    val l1 = entries(l1Dir).toDF("mn1", "mx1", "rows1")
    l0.join(broadcast(l1),
        col("mn0") <= col("mx1") && col("mn1") <= col("mx0"))
      .groupBy(col("mn0").as("l0_min_key"), col("mx0").as("l0_max_key"),
        col("rows0").as("l0_rows"))
      .agg(count(lit(1)).as("n_l1_overlap"),
        sum(col("rows1")).as("l1_rows"))
      .select(col("l0_min_key"), col("l0_max_key"), col("l0_rows"),
        col("n_l1_overlap"),
        (col("l0_rows") + col("l1_rows")).as("rewrite_rows"))
  }

  private[graft] val TwcsW = 4 // time windows across the fixture corpus

  /** Deterministic time-windowed generation layout for q181: live
    * cells of non-tombstoned partitions land in the file(s) of their
    * write-time WINDOW — the flush behavior TWCS assumes (a memtable
    * flushed every period holds only that period's writes). Windows
    * are [[TwcsW]] equal spans of the corpus write-time range; every
    * CLOSED window is split 2 ways by key (two flushes), the NEWEST 4
    * ways (many small current-window flushes — the shape STCS is left
    * to manage inside the window). All splits are content-keyed, so
    * every file's row count and time range are pure functions of the
    * data and the oracle replays the planner without reading the sink.
    */
  private[graft] val twcsFixture = SessionFixture("twcs") {
    (spark, dir) =>
      import graft.operators.Checkpoints._
      val out = Scratch.dir("graft_twcs")
      val cells = CellModel.cells(spark, dir)
        .filter(!col("partition_deleted") && col("kind") === "live")
      val b = cells.agg(min(col("write_time")), max(col("write_time"))).head()
      val (mn, mx) = (b.getLong(0), b.getLong(1))
      val newest = (mx - mn) * TwcsW / (mx - mn + 1)
      // one nest shuffle feeds every per-(window, split) slice write
      val nested = cells
        .withColumn("w",
          expr(s"((write_time - $mn) * $TwcsW) DIV ${mx - mn + 1}"))
        .withColumn("kn", col("key").cast("string").cast("long"))
        .withColumn("sub", when(col("w") === newest, col("kn") % 4)
          .otherwise(col("kn") % 2))
        .groupBy(col("w"), col("sub"), col("key"))
        .agg(sort_array(collect_list(struct(col("name"), col("value"),
          col("write_time")))).as("columns"))
        .cp(eager = true)
      (0 until TwcsW).foreach { w =>
        (0 until (if (w == newest) 4 else 2)).foreach { s =>
          Sink.writeNested(nested
            .filter(col("w") === w && col("sub") === s)
            .select(col("key"), col("columns")).coalesce(1), out)
        }
      }
      out
  }

  /** q181: TIME-WINDOW COMPACTION PLANNING from manifest TIME RANGES —
    * the third strategy in Cassandra's menu (TWCS; q153 is STCS, q156
    * is LCS): bucket files by the write-time window of their newest
    * cell, MAJOR-compact every closed window down to one file (an
    * old window never receives new writes, so one immutable file per
    * window is the steady state TTL expiry can drop wholesale), and
    * leave the current window to size-tiering. The per-file min/max
    * cell write time is the Statistics-sidecar stat Cassandra keeps
    * per SSTable (`SSTableReaderPatched.java:123-178` reads that
    * sidecar family) — here it rides the generation manifest
    * ([[graft.sources.GenManifest.Entry.times]], observed free at
    * write), so, like q153/q156, the whole plan is arithmetic over
    * ONE KB-sized snapshot: no data file opened, no directory listed
    * (CompactionSpec pins both counters at zero).
    *
    * Output per window: file count, row totals/extrema, and the
    * action — 'major' (closed window, >1 file), 'stcs' (current
    * window at Cassandra's min_threshold = 4), or 'none'.
    *
    * The oracle recomputes every file's window and row count from the
    * RAW table (the fixture's split rule is content-keyed), so the
    * hash gate also proves the manifest's time ranges are truthful —
    * planner-input audit and plan in one check, the q153 double duty.
    */
  def twcsPlan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = twcsFixture(spark, dir)
    val snap = graft.sources.GenManifest
      .read(out, spark.sessionState.newHadoopConf())
      .getOrElse(sys.error(s"q181: no manifest under $out"))
    val timed = snap.dataEntries.filter(e => e.count > 0 && e.times.isDefined)
      .map(e => (e.name, e.count, e.times.get._1, e.times.get._2))
    require(timed.nonEmpty, s"q181: no timed manifest entries under $out")
    val (mn, mx) = (timed.map(_._3).min, timed.map(_._4).max)
    val newest = (mx - mn) * TwcsW / (mx - mn + 1)
    timed.map { case (_, n, _, mxT) =>
      ((mxT - mn) * TwcsW / (mx - mn + 1), n)
    }.toDF("win", "n_rows")
      .groupBy(col("win"))
      .agg(count(lit(1)).as("n_files"), sum(col("n_rows")).as("sum_rows"),
        min(col("n_rows")).as("min_rows"), max(col("n_rows")).as("max_rows"))
      .withColumn("action",
        when(col("win") < newest,
          when(col("n_files") > 1, "major").otherwise("none"))
          .otherwise(when(col("n_files") >= 4, "stcs").otherwise("none")))
      .select(col("win"), col("n_files"), col("sum_rows"),
        col("min_rows"), col("max_rows"), col("action"))
  }

  /** q183: MATERIALIZED-VIEW DELTA MAINTENANCE — Cassandra's MV
    * contract re-keys base rows by a data COLUMN (here: the MV
    * partition key is the cell VALUE, its clustering is (base key,
    * name)), and the base write path must emit, for every base cell
    * whose value changes, paired view mutations: a DELETE of the old
    * view row and an INSERT of the new one — the view can never be
    * rebuilt by rescan at 100 TB, it is maintained by deltas. Old
    * state = generation 0's live cells; new state = the q53
    * newest-wins merge of gen 0 + the overlay. Ops: value changed →
    * delete + insert; cell tombstoned → delete; cell newly appearing
    * live → insert. Unchanged cells emit NOTHING — the delta stream
    * is proportional to the write rate, not the table.
    *
    * Scale: two equi-joins on (key, name) between old and new — both
    * sides hash-partition the same way, so AQE plans one co-located
    * exchange pair; every op is then row-local. No window, no rescan
    * of the base beyond the two states it already reconciles.
    */
  def mvDelta(spark: SparkSession, dir: String): DataFrame = {
    val old = generations(spark, dir)
      .filter(col("gen") === 0 && col("kind") === "live" &&
        !col("partition_deleted"))
      .select(col("key"), col("name"), col("value"))
    val neu = merged(spark, dir)
      .filter(col("w.kind") === "live")
      .select(col("key"), col("name"), col("w.value").as("value"))
    val dels = old.as("o")
      .join(neu.as("n"), Seq("key", "name"), "left")
      .filter(col("n.value").isNull || col("n.value") =!= col("o.value"))
      .select(lit("delete").as("op"), col("o.value").as("mv_key"),
        col("key"), col("name"))
    val ins = neu.as("n")
      .join(old.as("o"), Seq("key", "name"), "left")
      .filter(col("o.value").isNull || col("o.value") =!= col("n.value"))
      .select(lit("insert").as("op"), col("n.value").as("mv_key"),
        col("key"), col("name"))
    dels.unionByName(ins)
  }

  /** q189: HOT-WINDOW READ THROUGH TEMPORAL FILE SKIPPING — the read
    * pattern TWCS layouts exist to serve ("what happened in the
    * current window?"): the scan passes a `minWriteTimeUs` bound and
    * the source drops every closed-window file at PLAN time from the
    * manifest's recorded time ranges ([[graft.sources.ManifestIndex
    * .skipByTime]]) — Cassandra's SSTable min/max-timestamp skip. The
    * row-level window predicate is still applied in-plan (the option's
    * contract: it prunes I/O, the query keeps its own filter), so the
    * result is correct with or without the skip; the skip is what
    * makes it cheap. ManifestSpec + the spec here pin the pruning
    * mechanically (planned partitions = newest-window files only,
    * zero data-dir listings).
    *
    * Output: per partition key, its live-cell count in the newest
    * window — replayed by the oracle from the raw table.
    */
  def hotWindowRead(spark: SparkSession, dir: String): DataFrame = {
    val out = twcsFixture(spark, dir)
    val snap = graft.sources.GenManifest
      .read(out, spark.sessionState.newHadoopConf())
      .getOrElse(sys.error(s"q189: no manifest under $out"))
    val timed = snap.dataEntries.filter(e => e.count > 0 && e.times.isDefined)
    val (mn, mx) = (timed.map(_.times.get._1).min,
      timed.map(_.times.get._2).max)
    val newest = (mx - mn) * TwcsW / (mx - mn + 1)
    // smallest write time inside the newest window
    val tLo = mn + (newest * (mx - mn + 1) + TwcsW - 1) / TwcsW
    spark.read.format("proto-zst")
      .option("minWriteTimeUs", tLo.toString).load(out)
      .select(decode(col("key"), "UTF-8").as("key"),
        explode(col("columns")).as("c"))
      .filter(expr(
        s"((c.write_time - $mn) * $TwcsW) DIV ${mx - mn + 1}") === newest)
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n_cells"))
  }

  /** q233: LEVELED COMPACTION EXECUTION — q156 priced the promotion;
    * this PERFORMS it via [[SinkMaintain.promoteL0]] on a dedicated
    * two-level fixture (q156's shared planning fixture stays
    * unmutated), then returns the LEVEL-MERGED read — L0-wins over L1,
    * which after a full promotion is simply L1's content: every key
    * exactly once, in key-disjoint sorted runs. The oracle replays the
    * full nested corpus, so the hash proves the merge lost nothing,
    * duplicated nothing, and the L0-supersedes rule resolved every
    * overlapping key to one row.
    *
    * Scale: the promotion decision is manifest-row arithmetic (the
    * hull fixpoint); the data pass reads ONLY the participating files
    * by explicit path and makes one range-partitioned sorted write;
    * commits are one atomic replace per level. CompactionSpec pins the
    * layout invariants (disjoint runs, untouched files untouched,
    * idempotence); this query pins the end-to-end content.
    */
  def leveledCompact(spark: SparkSession, dir: String): DataFrame = {
    val (l0Dir, l1Dir) = leveledExecFixture(spark, dir)
    // idempotent under Bench's repeat runs: the second call finds L0
    // already drained and commits nothing
    SinkMaintain.promoteL0(spark, l0Dir, l1Dir)
    val l0 = spark.read.format("proto-zst").load(l0Dir)
    val l1 = spark.read.format("proto-zst").load(l1Dir)
    l0.unionByName(
        l1.join(l0.select(col("key")), Seq("key"), "left_anti"))
      .select(col("key").cast("string").as("key"),
        size(col("columns")).cast("long").as("n_cells"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q53_compact" -> compact,
    "q153_size_tiered" -> sizeTiered,
    "q154_gc_grace" -> gcGrace,
    "q156_leveled_plan" -> leveledPlan,
    "q181_twcs_plan" -> twcsPlan,
    "q183_mv_delta" -> mvDelta,
    "q189_hot_window_read" -> hotWindowRead,
    "q233_leveled_compact" -> leveledCompact)

  /** Shared oracle CTE: the identical two generations + the newest-wins
    * window (equivalent to the struct-max because (write_time, gen) is
    * unique within each (key, name) group). Both oracles read `r`.
    */
  private val generationsSql =
    s"""WITH g0 AS (SELECT *, 0 AS gen FROM (${Core.cellsSql})),
       |upd AS (SELECT key, name, value || '@2' AS value,
       |          write_time + $HourUs AS write_time, kind,
       |          partition_deleted, 1 AS gen
       |        FROM g0 WHERE kind = 'live' AND CAST(key AS BIGINT) % 5 = 2),
       |del AS (SELECT key, name, '' AS value,
       |          write_time + $HourUs AS write_time, 'deleted' AS kind,
       |          partition_deleted, 1 AS gen
       |        FROM g0 WHERE kind = 'live' AND CAST(key AS BIGINT) % 5 = 4),
       |u AS (SELECT * FROM g0 UNION ALL SELECT key, name, value, write_time,
       |        kind, partition_deleted, gen FROM upd
       |      UNION ALL SELECT key, name, value, write_time, kind,
       |        partition_deleted, gen FROM del),
       |r AS (SELECT key, name, value, write_time, kind, gen,
       |        row_number() OVER (PARTITION BY key, name
       |          ORDER BY write_time DESC, gen DESC) AS rn
       |      FROM u WHERE NOT partition_deleted)""".stripMargin

  private val compactSql =
    s"""$generationsSql
       |SELECT key, name, value, write_time, gen
       |FROM r WHERE rn = 1 AND kind = 'live'""".stripMargin

  private val gcGraceSql =
    s"""$generationsSql,
       |m AS (SELECT max(write_time) - $GraceUs AS gc_cutoff FROM u
       |      WHERE NOT partition_deleted)
       |SELECT key, name, kind, value, write_time, gen
       |FROM r, m WHERE rn = 1 AND (kind = 'live'
       |  OR (kind = 'deleted' AND write_time >= gc_cutoff))""".stripMargin

  // replays the split rule from the raw table — the manifest's counts
  // must agree or the hash fails (planner-input audit, see scaladoc)
  private val sizeTieredSql = {
    val tc = tierCase("n_rows")
    s"""WITH k AS (SELECT DISTINCT CAST(key AS BIGINT) AS key
       |      FROM (${Core.cellsSql}) WHERE NOT partition_deleted),
       |grp AS (SELECT CASE
       |    WHEN key % 32 <= 7 THEN CAST(key % 32 AS VARCHAR)
       |    WHEN key % 32 <= 11 THEN 'g8_11'
       |    WHEN key % 32 <= 15 THEN 'g12_15'
       |    ELSE 'g16plus' END AS grp FROM k),
       |f AS (SELECT grp, CAST(count(*) AS BIGINT) n_rows FROM grp
       |      GROUP BY grp),
       |t AS (SELECT $tc AS tier, n_rows FROM f)
       |SELECT tier, CAST(count(*) AS BIGINT) AS n_files,
       |  CAST(sum(n_rows) AS BIGINT) AS sum_rows,
       |  min(n_rows) AS min_rows, max(n_rows) AS max_rows,
       |  CAST(count(*) >= 4 AS INTEGER) AS compact
       |FROM t GROUP BY tier""".stripMargin
  }

  // slice bounds spliced from the SAME Scala constants the fixture
  // writes with; ranges and counts recomputed from the raw table so the
  // hash audits the manifest's minHex/maxHex truthfulness
  private val leveledPlanSql = {
    def sliceRows(ss: Seq[(String, String)]) =
      ss.map { case (lo, hi) => s"SELECT '$lo' AS lo, '$hi' AS hi" }
        .mkString(" UNION ALL ")
    s"""WITH kk AS (SELECT DISTINCT key FROM (${Core.cellsSql})
       |      WHERE NOT partition_deleted),
       |s0 AS (${sliceRows(L0Slices)}),
       |s1 AS (${sliceRows(L1Slices)}),
       |f0 AS (SELECT min(key) mn0, max(key) mx0,
       |         CAST(count(*) AS BIGINT) rows0
       |       FROM kk JOIN s0 ON key >= lo AND key < hi GROUP BY lo, hi),
       |f1 AS (SELECT min(key) mn1, max(key) mx1,
       |         CAST(count(*) AS BIGINT) rows1
       |       FROM kk JOIN s1 ON key >= lo AND key < hi GROUP BY lo, hi)
       |SELECT mn0 AS l0_min_key, mx0 AS l0_max_key, rows0 AS l0_rows,
       |  CAST(count(*) AS BIGINT) AS n_l1_overlap,
       |  CAST(rows0 + sum(rows1) AS BIGINT) AS rewrite_rows
       |FROM f0 JOIN f1 ON mn0 <= mx1 AND mn1 <= mx0
       |GROUP BY 1, 2, 3""".stripMargin
  }

  // replays window assignment, the content-keyed split rule, and the
  // TWCS action from the raw table — all operands of the `//` floors
  // are non-negative, so DuckDB's floor division matches Spark's
  // truncating DIV (and Scala's Long `/` on the manifest side)
  private val twcsPlanSql =
    s"""WITH c AS (SELECT CAST(key AS BIGINT) AS kn, key, write_time
       |      FROM (${Core.cellsSql})
       |      WHERE NOT partition_deleted AND kind = 'live'),
       |b AS (SELECT min(write_time) mn, max(write_time) mx FROM c),
       |nw AS (SELECT ((mx - mn) * $TwcsW) // (mx - mn + 1) AS newest
       |       FROM b),
       |wi AS (SELECT ((write_time - mn) * $TwcsW) // (mx - mn + 1) AS w,
       |         kn, key FROM c, b),
       |f AS (SELECT w,
       |        CASE WHEN w = newest THEN kn % 4 ELSE kn % 2 END AS sub,
       |        CAST(count(DISTINCT key) AS BIGINT) AS n_rows
       |      FROM wi, nw GROUP BY 1, 2)
       |SELECT w AS win, CAST(count(*) AS BIGINT) AS n_files,
       |  CAST(sum(n_rows) AS BIGINT) AS sum_rows,
       |  min(n_rows) AS min_rows, max(n_rows) AS max_rows,
       |  CASE WHEN w < (SELECT newest FROM nw)
       |       THEN CASE WHEN count(*) > 1 THEN 'major' ELSE 'none' END
       |       ELSE CASE WHEN count(*) >= 4 THEN 'stcs' ELSE 'none' END
       |  END AS action
       |FROM f GROUP BY w""".stripMargin

  // shares generationsSql with q53/q154 — old state is g0's live cells
  // of non-tombstoned partitions, new state is the rn=1 live merge
  private val mvDeltaSql =
    s"""$generationsSql,
       |old AS (SELECT key, name, value FROM g0
       |        WHERE kind = 'live' AND NOT partition_deleted),
       |neu AS (SELECT key, name, value FROM r
       |        WHERE rn = 1 AND kind = 'live')
       |SELECT 'delete' AS op, o.value AS mv_key, o.key AS key,
       |       o.name AS name
       |FROM old o LEFT JOIN neu n ON o.key = n.key AND o.name = n.name
       |WHERE n.value IS NULL OR n.value <> o.value
       |UNION ALL
       |SELECT 'insert' AS op, n.value AS mv_key, n.key AS key,
       |       n.name AS name
       |FROM neu n LEFT JOIN old o ON o.key = n.key AND o.name = n.name
       |WHERE o.value IS NULL OR o.value <> n.value""".stripMargin

  private val hotWindowReadSql =
    s"""WITH c AS (SELECT key, write_time FROM (${Core.cellsSql})
       |      WHERE NOT partition_deleted AND kind = 'live'),
       |b AS (SELECT min(write_time) mn, max(write_time) mx FROM c),
       |w AS (SELECT key,
       |        ((write_time - mn) * $TwcsW) // (mx - mn + 1) AS w,
       |        ((mx - mn) * $TwcsW) // (mx - mn + 1) AS nw
       |      FROM c, b)
       |SELECT key, CAST(count(*) AS BIGINT) AS n_cells
       |FROM w WHERE w = nw GROUP BY key""".stripMargin

  val oracle: Map[String, String] = Map(
    // the promoted level-merged read IS the whole nested corpus: one
    // row per non-tombstoned key with its live-cell count (q60's
    // shape, unfiltered) — anything lost, doubled, or unmerged by the
    // promotion breaks the hash
    "q233_leveled_compact" ->
      (s"SELECT key, count(CASE WHEN kind = 'live' THEN 1 END) AS n_cells " +
        s"FROM (${Core.cellsSql}) WHERE NOT partition_deleted GROUP BY key"),
    "q189_hot_window_read" -> hotWindowReadSql,
    "q53_compact" -> compactSql,
    "q153_size_tiered" -> sizeTieredSql,
    "q154_gc_grace" -> gcGraceSql,
    "q156_leveled_plan" -> leveledPlanSql,
    "q181_twcs_plan" -> twcsPlanSql,
    "q183_mv_delta" -> mvDeltaSql)
}
