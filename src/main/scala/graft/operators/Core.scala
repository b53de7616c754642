package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Reference-equivalent core pipeline as oracle-checkable queries
  * (SURVEY.md §2 rows O1–O16; §7 phase 1). Each entry has a matching
  * DuckDB oracle in [[oracle]] unless the output is non-SQL-expressible
  * (proto bytes), in which case the driver records a rows-only check.
  *
  * Scale notes per query are inline; the common theme: projections and
  * filters are narrow and pushed to the parquet scan, the only wide
  * stage is the per-key nest / global agg, which shuffles on the same
  * key the storage sorts by.
  */
object Core {

  /** O1+O9: scan + projection + pushed filter on lineitem. The filter
    * and the 4-column read schema both reach the parquet scan (verified
    * by PlanSpec). Narrow, no shuffle.
    */
  def scanProject(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_quantity") >= 45.0)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_returnflag"))

  /** O7+O8: liveness filters over the cell model (drop partition
    * tombstones, keep live cells only). Narrow.
    */
  def filterLive(spark: SparkSession, dir: String): DataFrame =
    CellModel.liveCellStrings(spark, dir)

  /** O4: partition-key range predicate. The range on user_id is pushed
    * to the scan (row-group pruning at scale); per-key aggregates are
    * one shuffle on the range subset only.
    */
  def keyRange(spark: SparkSession, dir: String): DataFrame =
    CellModel.liveCellStrings(spark, dir)
      .filter(col("key").cast("long") >= 100 && col("key").cast("long") < 400)
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n_cells"),
        min(col("name")).as("first_name"),
        max(col("name")).as("last_name"))

  /** O10: per-key ordered nest, canonicalised to a string so the DuckDB
    * oracle can reproduce it exactly (array<struct> hash comparison is
    * representation-fragile). One shuffle on key; partial aggregation
    * (map-side collect_list) applies. Like the reference's `rowMapper`
    * (run after only the partition-tombstone filter), partitions whose
    * cells are all non-live still emit a key-only row: cells_str = '',
    * n_cells = 0 (see [[CellModel.nestCells]]).
    */
  def nestRows(spark: SparkSession, dir: String): DataFrame =
    CellModel.cellStrings(spark, dir)
      .filter(!col("partition_deleted"))
      .groupBy(col("key"))
      .agg(
        array_join(
          transform(
            sort_array(collect_list(when(col("kind") === "live",
              struct(col("name"), col("value"), col("write_time"))))),
            c => concat_ws(":", c.getField("name"), c.getField("value"),
              c.getField("write_time"))),
          "|").as("cells_str"),
        count(when(col("kind") === "live", lit(1))).as("n_cells"))

  /** O10 inverse: nest then flatten — must round-trip to filterLive. */
  def explodeCells(spark: SparkSession, dir: String): DataFrame =
    CellModel.flatCells(CellModel.nestRows(spark, dir))

  /** O11: proto3 Row encode + varint framing. The DuckDB oracle
    * reproduces `proto_len`/`framed_len` ANALYTICALLY from the wire
    * format (tag byte + varint(len) + payload per field; empty bytes
    * and zero fixed64 skipped; repeated submessages always framed) —
    * so any encoder size drift fails the hash check, while byte-level
    * exactness is asserted by the golden tests in ProtoWireSpec and the
    * round-trip decodes of q29/q30.
    */
  def encodeProto(spark: SparkSession, dir: String): DataFrame =
    CellModel.encodeProto(spark, dir)
      .select(decode(col("key"), "UTF-8").as("key"),
        length(col("proto")).as("proto_len"),
        length(col("framed")).as("framed_len"))

  /** O14: per-file job metrics as aggregates — cell/partition counts,
    * payload bytes, write-time bounds. Single wide stage, tiny output.
    */
  def fileMetrics(spark: SparkSession, dir: String): DataFrame =
    CellModel.cellStrings(spark, dir).agg(
      count(lit(1)).as("n_cells"),
      countDistinct(col("key")).as("n_partitions"),
      sum(when(col("kind") === "live" && !col("partition_deleted"), 1L)
        .otherwise(0L)).as("n_live_cells"),
      countDistinct(when(col("partition_deleted"), col("key")))
        .as("n_dead_partitions"),
      sum(length(col("value"))).as("value_bytes"),
      min(col("write_time")).as("min_write_time"),
      max(col("write_time")).as("max_write_time"))

  private val DayUs = 86400000000L
  /** The q79 probe: purchase cells on 2024-01-10 (µs day 19732) —
    * mid-corpus, so the lookup is selective at every SF.
    */
  private[operators] val IdxDay = 1704844800000000L / 86400000000L

  /** The SECONDARY INDEX artifact: (cell type, µs day) → partition keys
    * with per-key cell counts, written as parquet partitioned by cell
    * type. One corpus shuffle at build time (like any index build);
    * built once per (context, sf dir) and reused by every lookup.
    */
  private[graft] val indexFixture = SessionFixture("index_2i") {
    (spark, dir) =>
      val out = Scratch.dir("graft_2i")
      CellModel.liveCellStrings(spark, dir)
        .select(split(col("name"), ":").getItem(1).as("ctype"),
          expr(s"write_time DIV $DayUs").as("day"), col("key"))
        .groupBy(col("ctype"), col("day"), col("key"))
        .agg(count(lit(1)).as("n_cells"))
        .write.partitionBy("ctype").mode("overwrite").parquet(out)
      out
  }

  /** q79: SECONDARY-INDEX lookup — the engine's answer to Cassandra's
    * 2i over the reference's cell model: "which partitions contain a
    * live cell of this type in this time bucket" is answered ENTIRELY
    * from the derived index artifact ([[indexFixture]]) — the corpus is
    * never opened. The cell-type predicate prunes whole partition
    * directories (parquet PartitionFilters) and the day predicate
    * pushes into the remaining footers, so at 100 TB the lookup reads
    * one type's slice of a (type, day, key)-aggregated table that is
    * orders of magnitude smaller than the corpus. Build cost is one
    * shuffle, paid once and amortised over every lookup — the same
    * write-time-for-read-time trade as the sink's bucketing (q44/q62).
    * PlanSpec asserts both prunings; the oracle rebuilds the lookup
    * from the raw cells.
    */
  def indexLookup(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(indexFixture(spark, dir))
      .filter(col("ctype") === "purchase" && col("day") === IdxDay)
      .select(col("key"), col("n_cells"))

  private val TokenRanges = 32 // contiguous spans of the 60-bit token ring
  private val RangeSpan = 1L << 55 // 2^60 / 32

  /** q155: TOKEN-RANGE SCAN PLANNING — how a 100 TB full scan actually
    * parallelizes in the reference's world: Cassandra hashes each
    * partition key to a TOKEN (originally MD5's RandomPartitioner —
    * exactly this engine's md5-prefix [[graft.functions.Portable.hash60]])
    * and splits the ring into contiguous ranges, each scanned
    * independently. This query derives the [[TokenRanges]]-way split
    * plan: per range, the partition/cell counts, the observed token
    * bounds, and `load_milli` — the range's cell share in 1/1000ths of
    * a perfectly uniform share — the imbalance number a scheduler
    * compares against its straggler budget. The hash is what makes the
    * plan safe: sequential hot keys (user_id is dense!) scatter
    * uniformly, so range load tracks 1/[[TokenRanges]] regardless of
    * key-space skew, and the ranges stay stable as data grows (tokens
    * don't move — only densities do).
    *
    * Scale: one groupBy on `token DIV 2^55` (32 groups, map-side
    * partials), one broadcast scalar for the share — no sort, no
    * repartition of the corpus itself.
    */
  def tokenRanges(spark: SparkSession, dir: String): DataFrame = {
    val c = CellModel.cellStrings(spark, dir)
      .select(col("key"), graft.functions.Portable.hash60(col("key"))
        .as("token"))
    val perRange = c.groupBy(expr(s"token DIV $RangeSpan").as("range_id"))
      .agg(countDistinct(col("key")).as("n_partitions"),
        count(lit(1)).as("n_cells"),
        min(col("token")).as("token_lo"),
        max(col("token")).as("token_hi"))
    // total = Σ n_cells over the 32 perRange rows: a second c.agg()
    // would re-scan the corpus and re-run the per-row md5 pass (the
    // grouped and global aggregates are different subtrees — no
    // exchange reuse); aggregating the grouped result costs 32 rows
    val total = perRange.agg(sum(col("n_cells")).as("total_cells"))
    graft.functions.Portable.withScalar(perRange, total)
      .withColumn("load_milli",
        expr(s"(1000 * n_cells * $TokenRanges) DIV total_cells"))
      .select(col("range_id"), col("n_partitions"), col("n_cells"),
        col("token_lo"), col("token_hi"), col("load_milli"))
  }

  /** q158: ANTI-ENTROPY RANGE DIGESTS — Cassandra's repair protocol
    * ("nodetool repair") restated as a query: two replicas agree on a
    * token range iff their per-range content DIGESTS match, and only
    * mismatched ranges stream data — comparing 100 TB costs
    * O(#ranges) digest exchanges, never a row-by-row diff. The digest
    * is the XOR of a per-cell 60-bit content hash (key, name, value,
    * write_time): XOR is order- and partition-insensitive (any task
    * tree yields the same fold) and cells are unique per (key, name),
    * so no self-cancellation — the same reason Merkle-leaf hashes can
    * sum upward in any order. Replica B is a deterministic divergence
    * of A (cells dropped by one salted hash — lost writes — and
    * write_times rolled back by another — stale replays), so the
    * oracle reproduces BOTH replicas and the verdict per range.
    *
    * Scale: two scans (one per replica), each ONE groupBy on the
    * 32-key range id with map-side partial XORs; the comparison join
    * is over 32 rows. `needs_repair` rises with divergence rate; the
    * spec pins that un-diverged replicas digest-match on every range.
    */
  def rangeRepair(spark: SparkSession, dir: String): DataFrame = {
    val a = CellModel.cellStrings(spark, dir)
    // deterministic divergence: ~1/97 of cells lost, ~1/101 stale
    val lost = graft.functions.Portable.hash60(
      concat(lit("lost:"), col("name"))) % 97 === 3
    val stale = graft.functions.Portable.hash60(
      concat(lit("stale:"), col("name"))) % 101 === 5
    val b = a.filter(!lost)
      .withColumn("write_time",
        when(stale, col("write_time") - 1000L).otherwise(col("write_time")))
    rangeRepairOf(a, b)
  }

  /** The q158 comparison kernel over two explicit replica cell frames
    * — exposed for the identity spec (a replica always agrees with
    * itself on every range).
    */
  private[graft] def rangeRepairOf(a: DataFrame, b: DataFrame): DataFrame = {
    def digests(df: DataFrame, dg: String, n: String): DataFrame = df
      .select(
        graft.functions.Portable.hash60(col("key")).as("token"),
        graft.functions.Portable.hash60(concat_ws("|", col("key"),
          col("name"), col("value"), col("write_time"))).as("h"))
      .select(expr(s"token DIV $RangeSpan").as("range_id"), col("h"))
      .groupBy(col("range_id"))
      .agg(expr("bit_xor(h)").as(dg), count(lit(1)).as(n))
    // needs_repair folds in the row-count comparison alongside the
    // digest: a divergence whose per-cell hash deltas XOR-cancel (or
    // equal digests over unequal counts) must still flag — the digest
    // alone is safe under the unique-(key, name) cell model but
    // fragile if the kernel is reused on frames with duplicate cells.
    digests(a, "digest_a", "n_a")
      .join(digests(b, "digest_b", "n_b"), Seq("range_id"), "full_outer")
      .select(col("range_id"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"),
        (!(col("digest_a") <=> col("digest_b")) ||
          !(col("n_a") <=> col("n_b"))).cast("int")
          .as("needs_repair"))
  }

  // Scaled-down analogs of Cassandra's tombstone_warn_threshold =
  // 1000 / tombstone_failure_threshold = 100000 (read-path guardrails;
  // the synthetic corpus runs ~4-23 tombstones per partition at
  // sf0.01, so these produce a real ok/warn/abort mix)
  private val TombWarn = 12L
  private val TombAbort = 20L

  /** q182: TOMBSTONE-DENSITY READ AUDIT — Cassandra's
    * tombstone_warn_threshold / tombstone_failure_threshold contract
    * per partition: a read of a partition scans every cell the merge
    * touches, and the ones that are TOMBSTONES (cell kind 'deleted' —
    * `SSTableIdentityIteratorPatched.java:33-78` deserializes exactly
    * these deletion markers) are pure overhead that can abort the read
    * outright. The audit reports, per live partition, the scanned /
    * live / tombstone cell counts and the verdict at the (scaled)
    * thresholds — the table an operator reads before raising gc_grace
    * or blaming a slow partition. Partition-tombstoned keys are
    * excluded: their read touches only the partition deletion marker,
    * never the shadowed cells. 'expiring' cells count as scanned but
    * not as tombstones (the model carries no TTL expiry instant, so
    * none have expired yet — Cassandra would count expired ones).
    *
    * Scale: pure projection + ONE count-aggregation on the partition
    * key with map-side partials; verdict is a row-local CASE. The
    * 100 TB posture is the same as the read path it audits: no joins,
    * no windows, no second scan.
    */
  def tombstoneAudit(spark: SparkSession, dir: String): DataFrame =
    CellModel.cellStrings(spark, dir)
      .filter(!col("partition_deleted"))
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n_scanned"),
        sum(when(col("kind") === "live", 1L).otherwise(0L)).as("n_live"),
        sum(when(col("kind") === "deleted", 1L).otherwise(0L))
          .as("n_tombstones"))
      .withColumn("verdict",
        when(col("n_tombstones") >= TombAbort, "abort")
          .when(col("n_tombstones") >= TombWarn, "warn")
          .otherwise("ok"))

  /** q186: ROW-LEVEL READ REPAIR — the step Cassandra takes after
    * q158's digests disagree (or inline, on a digest-mismatched read):
    * reconcile two replicas cell by cell under newest-wins and emit
    * the REPAIR MUTATIONS — which replica receives which winning cell
    * — rather than a verdict. Replicas A and B are independent
    * deterministic divergences of the same truth (each misses cells
    * by its own salted hash — lost writes — and rolls some write
    * times back — stale replays), so repairs flow BOTH directions and
    * the oracle replays the full exchange. A cell equal on both
    * replicas emits NOTHING: repair traffic is proportional to
    * divergence, never to the table — q158 bounds which ranges to
    * even compare, this bounds what to ship.
    *
    * Scale: ONE full-outer equi-join on (key, name) — both replicas
    * hash-partition identically, and in production the q158 range
    * verdict prunes the join inputs to mismatched ranges first.
    * Everything after the join is row-local.
    *
    * Tie-break: Cassandra's cell reconcile breaks equal write times by
    * value bytes (greater value wins), so timestamp-tied divergent
    * values still converge. The fixture's divergences alter times and
    * presence but never values, so the arm is unreachable here — it
    * exists so the kernel IS the reconcile, not an approximation of it
    * (both engines carry the arm; string comparison is binary-collated
    * lexicographic on both).
    */
  def readRepair(spark: SparkSession, dir: String): DataFrame = {
    val truth = CellModel.liveCellStrings(spark, dir)
    def h(salt: String) = graft.functions.Portable.hash60(
      concat(lit(salt), col("name")))
    def replica(lostSalt: String, lostMod: Long, lostRes: Long,
        staleSalt: String, staleMod: Long, staleRes: Long,
        rollback: Long): DataFrame =
      truth.filter(h(lostSalt) % lostMod =!= lostRes)
        .withColumn("write_time",
          when(h(staleSalt) % staleMod === staleRes,
            col("write_time") - rollback).otherwise(col("write_time")))
    val a = replica("lostA:", 97, 3, "staleA:", 101, 5, 1000L)
      .select(col("key"), col("name"), col("value").as("va"),
        col("write_time").as("wa"))
    val b = replica("lostB:", 89, 7, "staleB:", 103, 11, 2000L)
      .select(col("key"), col("name"), col("value").as("vb"),
        col("write_time").as("wb"))
    a.join(b, Seq("key", "name"), "full_outer")
      .withColumn("repair_target",
        when(col("wa").isNull, "a")
          .when(col("wb").isNull, "b")
          .when(col("wa") < col("wb"), "a")
          .when(col("wb") < col("wa"), "b")
          .when(col("va") < col("vb"), "a")
          .when(col("vb") < col("va"), "b"))
      .filter(col("repair_target").isNotNull)
      .select(col("key"), col("name"), col("repair_target"),
        when(col("repair_target") === "a", col("vb")).otherwise(col("va"))
          .as("value"),
        when(col("repair_target") === "a", col("wb")).otherwise(col("wa"))
          .as("write_time"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q158_range_repair" -> rangeRepair,
    "q182_tombstone_audit" -> tombstoneAudit,
    "q186_read_repair" -> readRepair,
    "q155_token_ranges" -> tokenRanges,
    "q79_secondary_index" -> indexLookup,
    "q42_nest_chunked" -> CellModel.nestRowsChunked _,
    "q01_scan_project" -> scanProject,
    "q02_filter_live" -> filterLive,
    "q03_key_range" -> keyRange,
    "q04_nest_rows" -> nestRows,
    "q05_explode_cells" -> explodeCells,
    "q06_encode_proto" -> encodeProto,
    "q07_file_metrics" -> fileMetrics)

  /** Shared oracle fragment: the string-cell projection of events. */
  private[operators] val cellsSql =
    """SELECT CAST(user_id AS VARCHAR) AS key,
      |       lpad(CAST(event_id AS VARCHAR), 12, '0') || ':' || event_type AS name,
      |       coalesce(props, '') AS value,
      |       epoch_us(ts) AS write_time,
      |       CASE WHEN event_type = 'error' THEN 'deleted'
      |            WHEN event_type = 'signup' THEN 'expiring'
      |            WHEN event_type = 'view' THEN 'counter'
      |            ELSE 'live' END AS kind,
      |       (user_id % 50 = 0) AS partition_deleted
      |FROM events""".stripMargin

  private[operators] val liveCellsSql =
    s"SELECT key, name, value, write_time FROM ($cellsSql) " +
      "WHERE NOT partition_deleted AND kind = 'live'"

  /** Protobuf varint size of a non-negative value expression. */
  private def vs(e: String): String =
    s"(CASE WHEN $e < 128 THEN 1 WHEN $e < 16384 THEN 2 " +
      s"WHEN $e < 2097152 THEN 3 WHEN $e < 268435456 THEN 4 ELSE 5 END)"

  /** Analytic proto3 wire sizes for the Row/Column messages (see
    * [[encodeProto]]): Column = tag+len+name, optional tag+len+value
    * (skipped when empty), 9 bytes fixed64 writeTime (never 0 here);
    * Row = tag+len+key + one framed submessage per live cell; framed =
    * varint(len(Row)) + Row. Empty (all-dead-cell) partitions emit a
    * key-only Row — the LEFT JOIN keeps them.
    */
  private[operators] val encodeProtoSql = {
    val cl = s"(1 + ${vs("ln")} + ln) + " +
      s"(CASE WHEN lv > 0 THEN 1 + ${vs("lv")} + lv ELSE 0 END) + 9"
    s"""WITH c AS (SELECT * FROM ($cellsSql) WHERE NOT partition_deleted),
       |l AS (SELECT key, strlen(name) ln, strlen(value) lv FROM c WHERE kind = 'live'),
       |cm AS (SELECT key, $cl AS cl FROM l),
       |pc AS (SELECT key, 1 + ${vs("cl")} + cl AS fl FROM cm),
       |ks AS (SELECT DISTINCT key FROM c),
       |body AS (SELECT ks.key,
       |           (1 + ${vs("strlen(ks.key)")} + strlen(ks.key))
       |             + coalesce(sum(fl), 0) AS bl
       |         FROM ks LEFT JOIN pc ON pc.key = ks.key GROUP BY ks.key)
       |SELECT key, CAST(bl AS INTEGER) AS proto_len,
       |       CAST(${vs("bl")} + bl AS INTEGER) AS framed_len
       |FROM body""".stripMargin
  }

  private val tokenRangesSql =
    s"""WITH c AS (SELECT key,
       |        ${graft.functions.Portable.sqlHash60("key")} AS token
       |      FROM ($cellsSql)),
       |g AS (SELECT token // $RangeSpan AS range_id,
       |        CAST(count(DISTINCT key) AS BIGINT) AS n_partitions,
       |        CAST(count(*) AS BIGINT) AS n_cells,
       |        min(token) AS token_lo, max(token) AS token_hi
       |      FROM c GROUP BY 1),
       |t AS (SELECT CAST(count(*) AS BIGINT) AS total_cells FROM c)
       |SELECT range_id, n_partitions, n_cells, token_lo, token_hi,
       |  CAST((1000 * n_cells * $TokenRanges) // total_cells AS BIGINT)
       |    AS load_milli
       |FROM g, t""".stripMargin

  private val rangeRepairSql = {
    import graft.functions.Portable.sqlHash60
    val cellH = sqlHash60(
      "key || '|' || name || '|' || value || '|' || CAST(write_time AS VARCHAR)")
    def dig(src: String, dg: String, n: String) =
      s"""SELECT ${sqlHash60("key")} // $RangeSpan AS range_id,
         |  bit_xor($cellH) AS $dg, CAST(count(*) AS BIGINT) AS $n
         |FROM $src GROUP BY 1""".stripMargin
    s"""WITH a AS (SELECT key, name, value, write_time FROM ($cellsSql)),
       |b AS (SELECT key, name, value,
       |        CASE WHEN ${sqlHash60("'stale:' || name")} % 101 = 5
       |          THEN write_time - 1000 ELSE write_time END AS write_time
       |      FROM a WHERE ${sqlHash60("'lost:' || name")} % 97 <> 3),
       |da AS (${dig("a", "dga", "n_a")}),
       |db AS (${dig("b", "dgb", "n_b")})
       |SELECT range_id, coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b,
       |  CAST((dga IS DISTINCT FROM dgb) OR (n_a IS DISTINCT FROM n_b)
       |    AS INTEGER) AS needs_repair
       |FROM da FULL JOIN db USING (range_id)""".stripMargin
  }

  private val readRepairSql = {
    def h(salt: String) =
      graft.functions.Portable.sqlHash60(s"'$salt' || name")
    def rep(lostSalt: String, lostMod: Long, lostRes: Long,
        staleSalt: String, staleMod: Long, staleRes: Long, rollback: Long) =
      s"""SELECT key, name, value,
         |  CASE WHEN ${h(staleSalt)} % $staleMod = $staleRes
         |       THEN write_time - $rollback ELSE write_time END AS wt
         |FROM t WHERE ${h(lostSalt)} % $lostMod <> $lostRes""".stripMargin
    s"""WITH t AS ($liveCellsSql),
       |a AS (${rep("lostA:", 97, 3, "staleA:", 101, 5, 1000L)}),
       |b AS (${rep("lostB:", 89, 7, "staleB:", 103, 11, 2000L)}),
       |j AS (SELECT coalesce(a.key, b.key) AS key,
       |        coalesce(a.name, b.name) AS name,
       |        a.value AS va, a.wt AS wa, b.value AS vb, b.wt AS wb
       |      FROM a FULL JOIN b ON a.key = b.key AND a.name = b.name),
       |r AS (SELECT key, name, va, wa, vb, wb,
       |        CASE WHEN wa IS NULL THEN 'a' WHEN wb IS NULL THEN 'b'
       |             WHEN wa < wb THEN 'a' WHEN wb < wa THEN 'b'
       |             WHEN va < vb THEN 'a' WHEN vb < va THEN 'b'
       |        END AS repair_target FROM j)
       |SELECT key, name, repair_target,
       |  CASE WHEN repair_target = 'a' THEN vb ELSE va END AS value,
       |  CASE WHEN repair_target = 'a' THEN wb ELSE wa END AS write_time
       |FROM r WHERE repair_target IS NOT NULL""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "q158_range_repair" -> rangeRepairSql,
    "q186_read_repair" -> readRepairSql,
    "q182_tombstone_audit" ->
      s"""SELECT key, CAST(count(*) AS BIGINT) AS n_scanned,
         |  CAST(sum(CASE WHEN kind = 'live' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_live,
         |  CAST(sum(CASE WHEN kind = 'deleted' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_tombstones,
         |  CASE WHEN sum(CASE WHEN kind = 'deleted' THEN 1 ELSE 0 END)
         |         >= $TombAbort THEN 'abort'
         |       WHEN sum(CASE WHEN kind = 'deleted' THEN 1 ELSE 0 END)
         |         >= $TombWarn THEN 'warn'
         |       ELSE 'ok' END AS verdict
         |FROM ($cellsSql) WHERE NOT partition_deleted
         |GROUP BY key""".stripMargin,
    "q155_token_ranges" -> tokenRangesSql,
    "q79_secondary_index" ->
      (s"SELECT key, count(*) AS n_cells FROM ($liveCellsSql) " +
        s"WHERE name LIKE '%:purchase' AND write_time // $DayUs = $IdxDay " +
        "GROUP BY key"),
    "q01_scan_project" ->
      ("SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag " +
        "FROM lineitem WHERE l_quantity >= 45.0"),
    "q02_filter_live" -> liveCellsSql,
    "q03_key_range" ->
      (s"SELECT key, count(*) AS n_cells, min(name) AS first_name, " +
        s"max(name) AS last_name FROM ($liveCellsSql) " +
        "WHERE CAST(key AS BIGINT) >= 100 AND CAST(key AS BIGINT) < 400 " +
        "GROUP BY key"),
    "q04_nest_rows" ->
      (s"SELECT key, coalesce(string_agg(CASE WHEN kind = 'live' THEN " +
        "name || ':' || value || ':' || CAST(write_time AS VARCHAR) END, '|' " +
        "ORDER BY name, value, write_time), '') AS cells_str, " +
        "count(CASE WHEN kind = 'live' THEN 1 END) AS n_cells " +
        s"FROM ($cellsSql) WHERE NOT partition_deleted GROUP BY key"),
    "q05_explode_cells" -> liveCellsSql,
    "q42_nest_chunked" ->
      (s"""WITH c AS ($liveCellsSql),
         |r AS (SELECT key, name,
         |        (row_number() OVER (PARTITION BY key
         |           ORDER BY name, value, write_time) - 1) // ${CellModel.NestChunk} AS chunk
         |      FROM c)
         |SELECT key, chunk, count(*) AS n_cells,
         |       min(name) AS first_name, max(name) AS last_name
         |FROM r GROUP BY key, chunk""".stripMargin),
    "q06_encode_proto" -> encodeProtoSql,
    "q07_file_metrics" ->
      (s"SELECT count(*) AS n_cells, count(DISTINCT key) AS n_partitions, " +
        "CAST(sum(CASE WHEN kind = 'live' AND NOT partition_deleted THEN 1 ELSE 0 END) AS BIGINT) AS n_live_cells, " +
        "count(DISTINCT CASE WHEN partition_deleted THEN key END) AS n_dead_partitions, " +
        "CAST(sum(length(value)) AS BIGINT) AS value_bytes, " +
        "min(write_time) AS min_write_time, " +
        s"max(write_time) AS max_write_time FROM ($cellsSql)"))
}
