package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** TRAINING-RELEASE SURFACES over the manifested sink — partitioned
  * release export (q171) and its shard-balance audit (q199),
  * pinned-version time-travel reads (q196), and version-delta
  * incremental reads (q204). Split from `Sink.scala`: everything here
  * consumes the manifest's version history as the release ledger;
  * file-rewriting maintenance lives in `SinkMaintain`.
  */
object Releases {
  // Release-shape DEFAULTS, sized for the toy corpus: at 100 TB the
  // caller passes epochs/shards matched to the cluster (shard count ≈
  // loader parallelism) — both are operator ARGUMENTS below, and the
  // non-default shape is spec-covered, so the "scales with the
  // cluster" posture is tested, not just documented.
  private[graft] val ExportEpochs = 2 // epochs in the release

  private[graft] val ExportShards = 8 // shard files per epoch

  private[graft] val ExportPrefixBytes = 6 // len("eE-sSS") — file-group id

  // the key format `eE-sSS:pPPPPPPPPPP` is FIXED-WIDTH — the read-back
  // parse offsets, the 6-byte group prefix, and the in-file ordering
  // all assume it; a shape past either field would silently merge
  // groups and shift every parse, so refuse loudly instead
  private def requireExportShape(epochs: Int, shards: Int): Unit =
    require(epochs >= 1 && shards >= 1 && epochs <= 10 && shards <= 100,
      s"export key fields are 1+2 digits; epochs=$epochs " +
        s"shards=$shards overflow them — widen the format AND the " +
        "parse offsets AND ExportPrefixBytes together")

  /** q171: TRAINING-RELEASE EXPORT THROUGH THE ENGINE'S OWN SINK — the
    * step that closes the q169→q170 loop: nested training examples
    * (q169), epoch-sharded by salted hash (q170's decorrelated
    * per-epoch permutations, applied to orders), WRITTEN as one
    * proto-zst file per (epoch, shard) and read back for the oracle
    * check. The write uses the sink's partitioned-export mode
    * (`splitKeyPrefix`): rows cluster by (epoch, shard) — any hash
    * partitioning works, collisions included, because the writer rolls
    * files by key-prefix CONTENT, not by task — sort within partitions
    * by the export key `eE-sSS:pPPPPPPPPPP`, and ALL shard files
    * commit in ONE manifest version bump, so a release is visible
    * atomically or not at all (the reference's one-file-per-unit
    * contract, `Runner.java:75-82,147-156`, at training-release
    * granularity). Each file is key-sorted, so its index
    * attests the order and a loader streams positions 1..n without
    * sorting; ManifestSpec pins file count, per-file ordering,
    * range/group agreement, and the single version bump.
    *
    * Scale: the nest is q169's single order-key shuffle; shard/key
    * assignment is row-local; the per-(epoch, shard) position window
    * is bounded by corpus/shards (q170's one deliberate sort — it IS
    * the file ordering); the write adds ONE exchange of epochs×shards
    * partitions. Read-back fans out one partition per file.
    */
  def exportShards(spark: SparkSession, dir: String): DataFrame = {
    val out = exportFixture(spark, dir)
    spark.read.format("proto-zst").load(out)
      .select(decode(col("key"), "UTF-8").as("k"),
        decode(element_at(col("columns"), 1).getField("value"), "UTF-8")
          .as("example"))
      .select(substring(col("k"), 2, 1).cast("int").as("epoch"),
        substring(col("k"), 5, 2).cast("long").as("shard"),
        substring(col("k"), 9, 10).cast("long").as("pos"),
        split(col("example"), "\\|").getItem(0).cast("long")
          .as("o_orderkey"),
        col("example"))
  }

  /** q199: RELEASE SHARD-BALANCE AUDIT — the loader-facing twin of
    * q193's IVF cell balance: per (epoch, shard) of the q171 release,
    * row count and load-vs-uniform-ideal in milli (1000 = perfectly
    * even), with a ≥2× skew flag. A training loader reads one shard
    * per worker, so a skewed shard IS the straggler — this table is
    * what decides whether the release re-shards before a run. Read
    * through the engine's own sink (the shipped release bytes, not
    * the pre-write frame), so the audit covers the whole write path.
    *
    * Scale: the read fans out one partition per release file; the
    * audit is ONE (epoch, shard)-grain aggregation with map-side
    * partials, and the per-epoch total is a window over the
    * epochs×shards-row aggregate — bounded by the release shape,
    * never by the corpus (the q193 convention).
    */
  def exportBalance(spark: SparkSession, dir: String): DataFrame =
    exportShards(spark, dir)
      .groupBy(col("epoch"), col("shard"))
      .agg(count(lit(1)).as("n_rows"))
      .withColumn("epoch_total", sum(col("n_rows")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("epoch"))))
      .withColumn("balance_milli",
        expr(s"(1000 * n_rows * $ExportShards) DIV epoch_total"))
      .select(col("epoch"), col("shard"), col("n_rows"),
        col("balance_milli"),
        (col("balance_milli") >= 2000).cast("int").as("skewed"))

  /** The release rows in sink schema plus their (epoch, shard) — the
    * frame the export write clusters; exposed for the ManifestSpec.
    * `epochs`/`shards` default to the toy release shape; a cluster
    * deployment passes its own (see [[requireExportShape]] bounds).
    */
  private[graft] def exportKeyed(spark: SparkSession, dir: String,
      epochs: Int = ExportEpochs, shards: Int = ExportShards): DataFrame = {
    requireExportShape(epochs, shards)
    val payload = concat_ws("|", col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("n_items"), col("total_cents"),
      col("items_str"))
    Relational.nestedExport(spark, dir)
      .withColumn("epoch", explode(sequence(lit(0), lit(epochs - 1))))
      .withColumn("k", graft.functions.Portable.hash60(concat_ws(":",
        lit("exp"), col("epoch"), col("o_orderkey"))))
      .withColumn("shard", col("k") % shards)
      .withColumn("pos", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("epoch"), col("shard"))
          .orderBy(col("k"), col("o_orderkey"))).cast("long"))
      .select(
        encode(format_string("e%d-s%02d:p%010d", col("epoch"), col("shard"),
          // a pos past the 10-digit field would shift every later
          // parse; fail loudly (the q161 guard discipline)
          when(col("pos") < 10000000000L, col("pos"))
            .otherwise(raise_error(concat(lit("q171: shard position "),
              col("pos").cast("string"),
              lit(" overflows the 10-digit key field"))))), "UTF-8")
          .as("key"),
        array(struct(
          encode(lit("example"), "UTF-8").as("name"),
          encode(payload, "UTF-8").as("value"),
          col("k").as("write_time"))).as("columns"),
        col("epoch"), col("shard"))
  }

  /** Audit hook (see [[SimSearch.fixturePlans]]): q171's release-build
    * pipeline (nest → shard keys → position window → export rows) on
    * its own row — the query's own row shows only the post-build
    * replay scan.
    */
  private[graft] def auditPlans(spark: SparkSession,
      dir: String): Seq[(String, DataFrame)] =
    Seq("q171:release_build" -> exportKeyed(spark, dir))

  private[graft] val exportFixture = SessionFixture("release_export") {
    (spark, dir) =>
      val out = Scratch.dir("graft_export")
      writeExport(exportKeyed(spark, dir), out)
      out
  }

  private[graft] def writeExport(keyed: DataFrame, out: String,
      epochs: Int = ExportEpochs, shards: Int = ExportShards): Unit = {
    requireExportShape(epochs, shards)
    keyed
      .repartition(epochs * shards, col("epoch"), col("shard"))
      .sortWithinPartitions(col("key"))
      .select(col("key"), col("columns"))
      .write.format("proto-zst")
      .option("splitKeyPrefix", ExportPrefixBytes.toString)
      .mode("append").save(out)
  }

  /** q196 fixture: one directory, two append-only commits split at the
    * live corpus's midpoint write time (exact integer midpoint, so the
    * DuckDB oracle reproduces the cut bit-for-bit) — a two-release
    * export history. Returns (dir, v1, v2): the manifest versions the
    * two commits landed as, captured from the manifest itself rather
    * than assumed.
    */
  private[graft] val versionPinFixture = SessionFixture("vpin") {
    (spark, dir) =>
      val out = Scratch.dir("graft_vpin")
      val conf = graft.sources.ProtoZstFiles.hadoopConf()
      val cells = CellModel.liveNestInput(spark, dir)
      val b = cells.agg(min(col("write_time")), max(col("write_time"))).head()
      val t = b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 2
      def version() = graft.sources.GenManifest.read(out, conf)
        .getOrElse(throw new IllegalStateException(
          s"export left no manifest under $out")).version
      Sink.writeNested(CellModel.nestCells(cells.filter(col("write_time") < t)), out)
      val v1 = version()
      Sink.writeNested(CellModel.nestCells(cells.filter(col("write_time") >= t)), out)
      (out, v1, version())
  }

  /** q196: PINNED-VERSION (time-travel) READ — the reproducibility
    * primitive a training release needs: "re-read exactly release N"
    * long after later commits appended more data. The same directory
    * is read three ways — pinned at v1 (the first release: later
    * appends must be invisible), pinned at v2, and HEAD (which must
    * equal the v2 pin bit-for-bit) — through the `manifestVersion`
    * scan option, which plans the file set, stats, and pushdown from
    * THAT snapshot and throws (never lists, never answers from HEAD)
    * when the version is gc'd or the directory ungoverned.
    *
    * Scale: each read plans from ONE tiny manifest open regardless of
    * file count; the pin is a planning-time choice with zero
    * execution-path cost. Pins stay valid across append-only commits
    * (exactly the release/export history); OPTIMIZE/erasure delete
    * replaced files immediately — erasure must be irreversible — so
    * pins across maintenance fail loudly at scan, never resurrect.
    */
  def versionPin(spark: SparkSession, dir: String): DataFrame = {
    val (out, v1, v2) = versionPinFixture(spark, dir)
    def stats(df: DataFrame, side: String) = df
      .agg(count(lit(1)).as("n_rows"),
        coalesce(sum(size(col("columns"))), lit(0L)).as("n_cells"))
      .select(lit(side).as("side"), col("n_rows"), col("n_cells"))
    def pinned(v: Long) = spark.read.format("proto-zst")
      .option("manifestVersion", v).load(out)
    stats(pinned(v1), "v1")
      .unionByName(stats(pinned(v2), "v2"))
      .unionByName(stats(spark.read.format("proto-zst").load(out), "head"))
  }

  /** q204: VERSION-DELTA READ — incremental consumption between two
    * manifest versions WITHOUT a stream: the snapshots name their file
    * sets, so "what did release v2 add over v1" is a driver-side set
    * difference of two tiny manifest reads, then a multi-path load of
    * exactly the appended files. The batch complement of the change
    * feed (q81 diffs overlaid VALUES; this diffs appended FILES) and
    * the catch-up path for a consumer that polls releases instead of
    * tailing: cost ∝ the delta, never the corpus, and the result is
    * provably the appended rows bit-for-bit (the oracle is the
    * source-side slice). Append-only histories only — a version pair
    * spanning OPTIMIZE/erasure has removed files too, and this read
    * (like any delta consumer) must then fall back to a full re-read;
    * the spec pins that refusal surface via q196's machinery.
    */
  def versionDelta(spark: SparkSession, dir: String): DataFrame = {
    val (out, v1, v2) = versionPinFixture(spark, dir)
    val conf = graft.sources.ProtoZstFiles.hadoopConf()
    val before = graft.sources.GenManifest.readAt(out, conf, v1)
      .dataEntries.map(_.name).toSet
    val added = graft.sources.GenManifest.readAt(out, conf, v2)
      .dataEntries.map(_.name).filterNot(before)
    val paths = added.map(n =>
      new org.apache.hadoop.fs.Path(out, n).toString)
    CellModel.flatCells(spark.read.format("proto-zst").load(paths: _*))
  }

  /** q171 oracle: replay export (q169's SQL) + epoch-keyed sharding +
    * per-shard positions — everything the sink round-trip must
    * preserve, including the canonical example payload byte-for-byte.
    */
  private val exportShardsSql = {
    val h = graft.functions.Portable.sqlHash60(
      "'exp:' || CAST(epoch AS VARCHAR) || ':' || CAST(o_orderkey AS VARCHAR)")
    s"""WITH ex AS (${Relational.nestedExportSql}),
       |e AS (SELECT ex.*, unnest(range($ExportEpochs)) AS epoch FROM ex),
       |k AS (SELECT epoch, o_orderkey, o_custkey, o_orderstatus, n_items,
       |        total_cents, items_str, $h AS k FROM e),
       |s AS (SELECT *, k % $ExportShards AS shard FROM k)
       |SELECT CAST(epoch AS INTEGER) AS epoch, shard,
       |  CAST(row_number() OVER (PARTITION BY epoch, shard
       |    ORDER BY k, o_orderkey) AS BIGINT) AS pos,
       |  o_orderkey,
       |  CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR)
       |    || '|' || o_orderstatus || '|' || CAST(n_items AS VARCHAR)
       |    || '|' || CAST(total_cents AS VARCHAR) || '|' || items_str
       |    AS example
       |FROM s""".stripMargin
  }

  // q196: the two commits partition the live cells at the exact
  // integer midpoint write time; a version pin reads its commit's
  // rows (nested per key WITHIN each commit, so a key spanning the
  // cut contributes one row to EACH), and HEAD equals the v2 pin
  private val versionPinSql =
    s"""WITH lc AS (${Core.liveCellsSql}),
       |b AS (SELECT min(write_time) + (max(write_time) - min(write_time)) // 2
       |        AS t FROM lc),
       |p1 AS (SELECT CAST(count(DISTINCT key) AS BIGINT) AS n_rows,
       |         CAST(count(*) AS BIGINT) AS n_cells
       |       FROM lc, b WHERE write_time < t),
       |p2 AS (SELECT CAST(count(DISTINCT key) AS BIGINT) AS n_rows,
       |         CAST(count(*) AS BIGINT) AS n_cells
       |       FROM lc, b WHERE write_time >= t)
       |SELECT 'v1' AS side, n_rows, n_cells FROM p1
       |UNION ALL
       |SELECT 'v2', p1.n_rows + p2.n_rows, p1.n_cells + p2.n_cells
       |FROM p1, p2
       |UNION ALL
       |SELECT 'head', p1.n_rows + p2.n_rows, p1.n_cells + p2.n_cells
       |FROM p1, p2""".stripMargin

  // q199: the q171 release rows re-aggregated at (epoch, shard) grain;
  // the per-epoch total is a window over the release-shape-row frame
  // spliced via @EXPORT@ AFTER stripMargin — the export SQL contains
  // `||` concatenations that a pre-strip interpolation would corrupt
  private val exportBalanceSql =
    s"""WITH x AS (@EXPORT@),
       |c AS (SELECT epoch, shard, CAST(count(*) AS BIGINT) AS n_rows
       |      FROM x GROUP BY epoch, shard),
       |w AS (SELECT epoch, shard, n_rows,
       |        (1000 * n_rows * $ExportShards)
       |          // CAST(sum(n_rows) OVER (PARTITION BY epoch) AS BIGINT)
       |          AS balance_milli
       |      FROM c)
       |SELECT epoch, shard, n_rows, balance_milli,
       |  CAST(balance_milli >= 2000 AS INTEGER) AS skewed
       |FROM w""".stripMargin
      .replace("@EXPORT@", exportShardsSql)

  // q204: the delta files hold exactly the post-midpoint slice of the
  // live cells — the q196 fixture's second commit
  private[operators] val versionDeltaSql =
    s"""WITH lc AS (${Core.liveCellsSql}),
       |b AS (SELECT min(write_time) + (max(write_time) - min(write_time)) // 2
       |        AS t FROM lc)
       |SELECT key, name, value, write_time
       |FROM lc, b WHERE write_time >= t""".stripMargin

  // ---- q212/q213: the PACKED release (sequence grain) ----------------

  /** BPE tokens per packed training sequence (q212/q213). q57/q172
    * index the packed stream in-memory at whitespace-token grain; the
    * packed RELEASE uses the real tokenizer (q124's merge table) and
    * ships sequence rows through the manifest sink.
    */
  private[graft] val PackRelLen = 512L

  /** Pack streams per release — one key-sorted release file each. A
    * cluster passes loader parallelism here (the q171 posture): it is
    * an ARGUMENT below, spec-covered at a non-default shape.
    */
  private[graft] val PackRelStreams = 6

  // the `tSS:qNNNNNNNN` key is fixed-width (3-byte file-group prefix,
  // 8-digit sequence id); past either field the parse offsets shift
  // and file groups merge — refuse loudly (the q171 discipline)
  private def requirePackShape(streams: Int): Unit =
    require(streams >= 1 && streams <= 100,
      s"pack stream id is a 2-digit key field; streams=$streams " +
        "overflows it — widen the key format AND the parse offsets " +
        "together")

  /** Per-document BPE token counts plus stream/order keys — the
    * packing input. Row-local per doc (the q124 merge fold), then the
    * salted-hash stream assignment (q170/q172's decorrelation
    * discipline: consecutive sequences mix sources instead of
    * clumping corpus order). Zero-token docs can occupy no sequence
    * and are excluded on BOTH engine and oracle sides.
    */
  private[graft] def packRelDocs(spark: SparkSession, dir: String,
      streams: Int): DataFrame = {
    requirePackShape(streams)
    Tables.documents(spark, dir)
      .select(col("doc_id"), graft.functions.Portable.words(col("text"))
        .as("ws"))
      .select(col("doc_id"),
        aggregate(transform(col("ws"), w => TextAnalysis.bpeTokens(w)),
          lit(0L), (a, x) => a + x).as("nb"))
      .filter(col("nb") > 0)
      .withColumn("k", graft.functions.Portable.hash60(
        concat_ws(":", lit("prel"), col("doc_id"))))
      .withColumn("stream", (col("k") % streams).cast("int"))
  }

  /** The packing itself: per stream, a running token sum over docs in
    * (k, doc_id) order places each doc at `st = cum - nb`; the doc
    * then fragments across sequences `st DIV L .. (cum-1) DIV L`
    * (straddles split exactly as q172 does), and sequence rows
    * aggregate their fragments — count, token fill, and a
    * fixed-width membership string sorted by in-sequence offset (the
    * attention-mask/boundary metadata a packed-batch loader needs).
    *
    * Scale: ONE window per stream (partitions bounded by
    * corpus/streams — the stream count scales with the cluster, not
    * the corpus), a row-local fragment explode (≤ nb/L + 1 rows per
    * doc), and ONE (stream, seq) aggregation with map-side partials.
    */
  private[graft] def packRelSeqs(docs: DataFrame,
      orderCol: String = "k"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("stream")).orderBy(col(orderCol), col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, org.apache.spark.sql.expressions.Window
        .currentRow)
    docs.withColumn("cum", sum(col("nb")).over(w))
      .withColumn("st", col("cum") - col("nb"))
      .withColumn("seq", explode(sequence(
        expr(s"st DIV $PackRelLen"), expr(s"(cum - 1) DIV $PackRelLen"))))
      .withColumn("off",
        expr(s"greatest(st, seq * $PackRelLen) - seq * $PackRelLen"))
      .withColumn("ft", expr(s"least(cum, (seq + 1) * $PackRelLen) " +
        s"- greatest(st, seq * $PackRelLen)"))
      .groupBy(col("stream"), col("seq"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ft")).as("n_tokens"),
        array_join(sort_array(collect_list(format_string(
          "t%06d:d%010d+%06d",
          col("off"),
          // a doc_id past the 10-digit member field would shift every
          // erasure-side parse; fail loudly (the q161/q171 discipline)
          when(col("doc_id") < 10000000000L, col("doc_id"))
            .otherwise(raise_error(concat(
              lit("packed release: doc_id "), col("doc_id").cast("string"),
              lit(" overflows the 10-digit member field")))),
          col("ft")))), ",").as("members"))
  }

  /** Sequence rows in sink schema, keyed `tSS:qNNNNNNNN` — key order
    * IS loader order, so each release file streams sequences without
    * sorting and its index attests it.
    */
  private[graft] def packRelKeyed(seqs: DataFrame): DataFrame =
    seqs.select(
      encode(format_string("t%02d:q%08d", col("stream"),
        when(col("seq") < 100000000L, col("seq"))
          .otherwise(raise_error(concat(
            lit("packed release: sequence id "), col("seq").cast("string"),
            lit(" overflows the 8-digit key field"))))), "UTF-8").as("key"),
      array(struct(
        encode(lit("packed"), "UTF-8").as("name"),
        encode(format_string("%d|%d|%s", col("n_docs"), col("n_tokens"),
          col("members")), "UTF-8").as("value"),
        col("seq").as("write_time"))).as("columns"),
      col("stream"))

  /** One exchange of `streams` partitions, the writer rolls one file
    * per 3-byte stream prefix, and the whole release commits as ONE
    * manifest version bump (visible atomically or not at all).
    */
  private[graft] def writePackRel(keyed: DataFrame, out: String,
      streams: Int): Unit =
    keyed.repartition(streams, col("stream"))
      .sortWithinPartitions(col("key"))
      .select(col("key"), col("columns"))
      .write.format("proto-zst")
      .option("splitKeyPrefix", "3")
      .mode("append").save(out)

  private[graft] val packRelFixture = SessionFixture("packrel") {
    (spark, dir) =>
      val out = Scratch.dir("graft_packrel")
      writePackRel(packRelKeyed(packRelSeqs(
        packRelDocs(spark, dir, PackRelStreams))), out, PackRelStreams)
      out
  }

  /** Release read-back → (stream, seq_id, n_docs, n_tokens, members);
    * parse offsets are pinned by the fixed-width key/member formats.
    */
  private[graft] def packRelParse(spark: SparkSession,
      relDir: String): DataFrame =
    spark.read.format("proto-zst").load(relDir)
      .select(decode(col("key"), "UTF-8").as("kk"),
        decode(element_at(col("columns"), 1).getField("value"), "UTF-8")
          .as("v"))
      .select(substring(col("kk"), 2, 2).cast("int").as("stream"),
        substring(col("kk"), 6, 8).cast("long").as("seq_id"),
        split(col("v"), "\\|", 3).getItem(0).cast("long").as("n_docs"),
        split(col("v"), "\\|", 3).getItem(1).cast("long").as("n_tokens"),
        split(col("v"), "\\|", 3).getItem(2).as("members"))

  /** q212: PACKED TRAINING RELEASE — the end-to-end composition the
    * whole pipeline exists for: tokenize (q124's BPE merge table) →
    * pack into fixed-[[PackRelLen]] sequences (q172's straddle-split
    * discipline, salted-hash decorrelated order) → ship as one
    * key-sorted release file per pack stream under ONE atomic
    * manifest commit — then read the shipped bytes back. Each row is
    * one training sequence: fill, doc count, and the offset-sorted
    * membership string a loader builds attention-mask boundaries
    * from. The oracle replays tokenizer + packing bit-for-bit, so
    * hash equality proves the RELEASE BYTES (not the pre-write frame)
    * carry exactly the packing the pipeline computed.
    */
  def packedRelease(spark: SparkSession, dir: String): DataFrame =
    packRelParse(spark, packRelFixture(spark, dir))

  /** q245: ICP-ORDERED RELEASE — the q240 decision EXECUTED through
    * the release writer (the q181→q207 / q156→q233 planning→execution
    * discipline): same tokenize→pack→one-commit pipeline as q212, but
    * within each stream documents pack in SRP-locality order
    * ([[VectorOps.key60Expr]]) instead of salted-hash order, so the
    * sequences a loader feeds the model hold semantically ADJACENT
    * documents — In-Context Pretraining's coherent contexts, shipped.
    * Stream ASSIGNMENT stays the salted hash (load balance is the
    * hash's job; coherence is the within-stream order's). Documents
    * without an embedding fall back to their hash key (absence
    * degrades to today's order, never drops a doc). The read-back
    * hash-checks the shipped membership strings against the oracle's
    * replay of the identical projection matrix + window.
    *
    * Scale: q212's shapes plus ONE left join against the row-local
    * (doc_id, key60) projection — the ICP sort costs exactly the
    * per-stream sort the writer already performs.
    */
  private[graft] def icpRelDocs(spark: SparkSession, dir: String,
      streams: Int): DataFrame =
    packRelDocs(spark, dir, streams)
      .join(VectorOps.icpKeys(spark, dir), Seq("doc_id"), "left")
      .withColumn("okey", coalesce(col("key60"), col("k")))

  private val icpRelFixture = SessionFixture("icprel") {
    (spark, dir) =>
      val out = Scratch.dir("graft_icprel")
      writePackRel(packRelKeyed(packRelSeqs(
        icpRelDocs(spark, dir, PackRelStreams), orderCol = "okey")),
        out, PackRelStreams)
      out
  }

  def icpRelease(spark: SparkSession, dir: String): DataFrame =
    packRelParse(spark, icpRelFixture(spark, dir))

  /** q246: SHIPPED-COHERENCE AUDIT — the trilogy's verification leg
    * (q240 decides, q245 executes, this MEASURES the shipped bytes):
    * for both releases, the adjacent-document cosine WITHIN each
    * training sequence, parsed from the release files' own membership
    * strings — the coherence the model's attention window actually
    * sees, boundaries included (cross-sequence neighbors don't pair:
    * attention never sees them together). Pairs with an unembedded
    * side drop from the stats (at partial embedding coverage the
    * hash-fallback docs can't score). The per-pair milli floors are
    * exact longs, so the sums replay bit-for-bit.
    *
    * Scale: member explode is row-local over release-sized rows; the
    * lag window partitions by (stream, sequence) — thousands of tiny
    * partitions; the two vector joins are doc-grain equi-joins against
    * the row-local projection. Output: 2 rows.
    */
  def shippedCoherence(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Portable.{cosineq, dotq}
    val vecs = VectorOps.embedVecs(spark, dir)
      .withColumnRenamed("doc_id", "vid")
    def pairsOf(relDir: String, tag: String): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("stream"), col("seq_id"))
        .orderBy(col("t_off"), col("doc_id"))
      packRelParse(spark, relDir)
        .select(col("stream"), col("seq_id"),
          explode(split(col("members"), ",")).as("m"))
        .select(col("stream"), col("seq_id"),
          substring(col("m"), 2, 6).cast("long").as("t_off"),
          substring(col("m"), 10, 10).cast("long").as("doc_id"))
        .withColumn("prev_doc", lag(col("doc_id"), 1).over(w))
        .filter(col("prev_doc").isNotNull)
        .join(vecs.select(col("vid").as("doc_id"), col("qv"), col("n2")),
          Seq("doc_id"))
        .join(vecs.select(col("vid").as("prev_doc"), col("qv").as("pqv"),
          col("n2").as("pn2")), Seq("prev_doc"))
        .withColumn("cosm", floor(
          cosineq(dotq(col("qv"), col("pqv")), col("n2"), col("pn2")) *
            lit(1000)).cast("long"))
        .filter(col("cosm").isNotNull)
        .groupBy().agg(count(lit(1)).as("n_pairs"),
          sum(col("cosm")).as("sum_cos_milli"))
        // a release with ZERO scorable pairs (no embedding coverage)
        // contributes no row — matching the oracle's grouped fold,
        // which never emits a group for an empty pair set
        .filter(col("n_pairs") > 0)
        .withColumn("ordering", lit(tag))
    }
    pairsOf(icpRelFixture(spark, dir), "icp")
      .unionByName(pairsOf(packRelFixture(spark, dir), "hash"))
      .select(col("ordering"), col("n_pairs"), col("sum_cos_milli"),
        (col("sum_cos_milli").cast("double") / col("n_pairs"))
          .as("mean_cos_milli"))
  }

  /** Release-resident erasure (q213's kernel): remove `eraseIds` from
    * a packed release by REWRITING ONLY THE AFFECTED STREAM FILES —
    * the GDPR-deletion path at delta cost. The affected stream set is
    * computed from the erase list alone (the stream key is a
    * row-local hash of doc_id — zero reads); surviving documents'
    * token counts are reconstructed from the touched files' own
    * membership fragments (fragments partition each doc's tokens), so
    * the repack never rescans the source corpus; the swap is the
    * [[SinkMaintain.stagedSwap]] every rewrite shares. Returns
    * (touched, untouched) file counts.
    *
    * Scale: cost ∝ affected files + |erase list|, never the corpus or
    * even the release; a production erase request IS a bounded doc-id
    * list (the fixture's hash-predicate sweep is its synthetic
    * stand-in).
    */
  private[graft] def packErase(spark: SparkSession, relDir: String,
      eraseIds: Seq[Long], streams: Int): (Int, Int) = {
    requirePackShape(streams)
    require(eraseIds.nonEmpty, "packErase without victims proves nothing")
    val conf = graft.sources.ProtoZstFiles.hadoopConf()
    val snap = graft.sources.GenManifest.read(relDir, conf).getOrElse(
      throw new IllegalStateException(
        s"packErase requires a manifested release: $relDir"))
    val prefixes: Set[String] = eraseIds.map { id =>
      val k = graft.functions.HashOps.md5Prefix60(
        org.apache.spark.unsafe.types.UTF8String.fromString(s"prel:$id"))
      f"t${(k % streams).toInt}%02d"
    }.toSet
    val (touched, untouched) = snap.dataEntries.partition { e =>
      // conservative: a file with no recorded range might hold anything
      !e.hasRange || prefixes.exists(p =>
        new String(e.min, java.nio.charset.StandardCharsets.UTF_8)
          .startsWith(p))
    }
    if (touched.isEmpty) return (0, untouched.length)
    val erased = eraseIds.toSet
    val survivors = spark.read.format("proto-zst")
      .load(touched.map(e => new org.apache.hadoop.fs.Path(relDir, e.name)
        .toString): _*)
      .select(decode(element_at(col("columns"), 1).getField("value"),
        "UTF-8").as("v"))
      .select(explode(split(split(col("v"), "\\|", 3).getItem(2), ","))
        .as("m"))
      .select(substring(col("m"), 10, 10).cast("long").as("doc_id"),
        substring(col("m"), 21, 6).cast("long").as("ft"))
      .groupBy(col("doc_id")).agg(sum(col("ft")).as("nb"))
      .filter(!col("doc_id").isInCollection(erased))
      .withColumn("k", graft.functions.Portable.hash60(
        concat_ws(":", lit("prel"), col("doc_id"))))
      .withColumn("stream", (col("k") % streams).cast("int"))
    SinkMaintain.stagedSwap(relDir, conf, ".pack-erase-", "pack-erased-",
        touched) { staging =>
      writePackRel(packRelKeyed(packRelSeqs(survivors)), staging,
        math.max(prefixes.size, 1))
    }
    (touched.length, untouched.length)
  }

  /** q213 fixture: a fresh packed release (NOT q212's cached one —
    * erasure mutates the directory) with the hash-predicate victim
    * sweep erased through [[packErase]].
    */
  private val packEraseFixture = SessionFixture("packerase") {
    (spark, dir) =>
      val out = Scratch.dir("graft_packerase")
      val docs = packRelDocs(spark, dir, PackRelStreams)
      writePackRel(packRelKeyed(packRelSeqs(docs)), out, PackRelStreams)
      val eraseIds = docs
        .filter(graft.functions.Portable.hash60(concat_ws(":",
          lit("gdpr"), col("doc_id"))) % 29 === 0)
        .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
      require(eraseIds.nonEmpty,
        "erase fixture found no victims — widen the predicate")
      val (t, _) = packErase(spark, out, eraseIds, PackRelStreams)
      require(t >= 1, "erase fixture rewrote no files — it proves nothing")
      out
  }

  /** q213: SURGICAL ERASURE THROUGH A PACKED RELEASE — q148 at
    * release grain: erase a document set from the shipped q212
    * release by repacking ONLY the affected stream files from their
    * own bytes (see [[packErase]]). The post-erase read-back must
    * equal the packing of the surviving corpus bit-for-bit — the
    * oracle replays exactly that — which proves erased docs are gone
    * from every membership, surviving docs repacked without loss or
    * duplication, and untouched streams left byte-stable (their
    * packing never depended on other streams' docs). File-surgery
    * facts (untouched files not rewritten, single commit, staging
    * invisible) are pinned by ManifestSpec.
    */
  def packedErasureRead(spark: SparkSession, dir: String): DataFrame =
    packRelParse(spark, packEraseFixture(spark, dir))

  /** Shared oracle replay of the packing pipeline over documents
    * passing `docFilter` — tokenizer fold, salted stream hash, per-
    * stream running sum, fragment explode, sequence aggregation. The
    * BPE/hash kernels contain `||` concatenations, so they splice via
    * placeholders AFTER stripMargin.
    */
  /** The tokenize-and-key CTE chain (`d0`/`db`/`d`) every release
    * oracle starts from — ONE definition so q212/q213/q245/q246 can
    * never drift on tokenization or the salted key (the
    * sqlIcpKeyCtes discipline applied to the doc chain).
    */
  private def packDocCtes(docFilter: String): String =
    s"""d0 AS (SELECT doc_id, @WS@ ws FROM documents),
       |db AS (SELECT doc_id, @BPE@ nb FROM d0),
       |d AS (SELECT doc_id, @H60@ k, nb FROM db
       |      WHERE nb > 0 AND (@FILTER@))""".stripMargin
      .replace("@WS@", graft.functions.Portable.sqlWords)
      .replace("@BPE@", TextAnalysis.sqlBpeTokensOfWs)
      .replace("@H60@", graft.functions.Portable.sqlHash60(
        "'prel:' || CAST(doc_id AS VARCHAR)"))
      .replace("@FILTER@", docFilter)

  /** The ICP order-key CTE (`dk`) shared by the q245/q246 oracles. */
  private val icpDkCte =
    """dk AS (SELECT d.doc_id, d.k, d.nb,
      |         coalesce(ikey.key60, d.k) okey
      |       FROM d LEFT JOIN ikey ON ikey.vec_id = d.doc_id)""".stripMargin

  private def packRelSql(docFilter: String): String =
    s"""WITH ${packDocCtes(docFilter)},
       |c AS (SELECT doc_id, k, k % $PackRelStreams stream, nb,
       |        CAST(sum(nb) OVER (PARTITION BY k % $PackRelStreams
       |          ORDER BY k, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) cum
       |      FROM d),
       |f AS (SELECT stream, doc_id, cum - nb st, cum,
       |        unnest(range((cum - nb) // $PackRelLen,
       |                     (cum - 1) // $PackRelLen + 1)) seq
       |      FROM c),
       |g AS (SELECT stream, seq, doc_id,
       |        greatest(st, seq * $PackRelLen) - seq * $PackRelLen t_off,
       |        least(cum, (seq + 1) * $PackRelLen)
       |          - greatest(st, seq * $PackRelLen) ft
       |      FROM f)
       |SELECT CAST(stream AS INTEGER) stream, CAST(seq AS BIGINT) seq_id,
       |  count(*) n_docs, CAST(sum(ft) AS BIGINT) n_tokens,
       |  string_agg(printf('t%06d:d%010d+%06d', t_off, doc_id, ft), ','
       |             ORDER BY t_off, doc_id) members
       |FROM g GROUP BY stream, seq""".stripMargin

  private val packedReleaseSql = packRelSql("TRUE")

  // q245 replay: packRelSql's pipeline with the within-stream order
  // swapped to the SRP locality key (the shared sqlIcpKeyCtes chain);
  // stream assignment and every downstream fragment/member format
  // unchanged
  private lazy val icpReleaseSql =
    s"""WITH ${VectorOps.sqlIcpKeyCtes},
       |${packDocCtes("TRUE")},
       |$icpDkCte,
       |c AS (SELECT doc_id, k % $PackRelStreams stream, nb,
       |        CAST(sum(nb) OVER (PARTITION BY k % $PackRelStreams
       |          ORDER BY okey, doc_id ROWS UNBOUNDED PRECEDING)
       |          AS BIGINT) cum
       |      FROM dk),
       |f AS (SELECT stream, doc_id, cum - nb st, cum,
       |        unnest(range((cum - nb) // $PackRelLen,
       |                     (cum - 1) // $PackRelLen + 1)) seq
       |      FROM c),
       |g AS (SELECT stream, seq, doc_id,
       |        greatest(st, seq * $PackRelLen) - seq * $PackRelLen t_off,
       |        least(cum, (seq + 1) * $PackRelLen)
       |          - greatest(st, seq * $PackRelLen) ft
       |      FROM f)
       |SELECT CAST(stream AS INTEGER) stream, CAST(seq AS BIGINT) seq_id,
       |  count(*) n_docs, CAST(sum(ft) AS BIGINT) n_tokens,
       |  string_agg(printf('t%06d:d%010d+%06d', t_off, doc_id, ft), ','
       |             ORDER BY t_off, doc_id) members
       |FROM g GROUP BY stream, seq""".stripMargin

  private val packedErasureSql = packRelSql(
    "NOT (" + graft.functions.Portable.sqlHash60(
      "'gdpr:' || CAST(doc_id AS VARCHAR)") + " % 29 = 0)")

  // q246 replay: both packings' fragment chains (hash-ordered and
  // ICP-ordered) from the shared doc CTEs, the same within-sequence
  // lag, and exact milli cosine floors over the shared key/vector CTEs
  private lazy val shippedCoherenceSql = {
    import graft.functions.Portable.{sqlCosineq, sqlDotq, sqlNorm2}
    s"""WITH ${VectorOps.sqlIcpKeyCtes},
       |${packDocCtes("TRUE")},
       |$icpDkCte,
       |sc AS (SELECT doc_id, k % $PackRelStreams stream, nb,
       |        CAST(sum(nb) OVER (PARTITION BY k % $PackRelStreams
       |          ORDER BY k, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) cum
       |      FROM d),
       |ic AS (SELECT doc_id, k % $PackRelStreams stream, nb,
       |        CAST(sum(nb) OVER (PARTITION BY k % $PackRelStreams
       |          ORDER BY okey, doc_id ROWS UNBOUNDED PRECEDING)
       |          AS BIGINT) cum
       |      FROM dk),
       |u AS (
       |  SELECT 'hash' AS ordering, stream, doc_id, cum - nb st, cum
       |  FROM sc
       |  UNION ALL
       |  SELECT 'icp' AS ordering, stream, doc_id, cum - nb st, cum
       |  FROM ic),
       |f AS (SELECT ordering, stream, doc_id, st, cum,
       |        unnest(range(st // $PackRelLen,
       |                     (cum - 1) // $PackRelLen + 1)) seq
       |      FROM u),
       |g AS (SELECT ordering, stream, seq, doc_id,
       |        greatest(st, seq * $PackRelLen) - seq * $PackRelLen t_off
       |      FROM f),
       |p AS (SELECT ordering, doc_id,
       |        lag(doc_id) OVER (PARTITION BY ordering, stream, seq
       |          ORDER BY t_off, doc_id) prev_doc
       |      FROM g),
       |qn AS (SELECT vec_id, qv, ${sqlNorm2("qv")} n2 FROM ie),
       |c2 AS (SELECT ordering,
       |        CAST(floor(${sqlCosineq(sqlDotq("a.qv", "b.qv"),
                  "a.n2", "b.n2")} * 1000) AS BIGINT) cosm
       |      FROM p
       |      JOIN qn a ON a.vec_id = p.doc_id
       |      JOIN qn b ON b.vec_id = p.prev_doc)
       |SELECT ordering, count(*) n_pairs,
       |  CAST(sum(cosm) AS BIGINT) sum_cos_milli,
       |  CAST(sum(cosm) AS DOUBLE) / count(*) mean_cos_milli
       |FROM c2 WHERE cosm IS NOT NULL
       |GROUP BY ordering""".stripMargin
  }

  /** q231 candidate sequence lengths (tokens per training sequence). */
  private[graft] val PackLens = Seq(512L, 1024L, 2048L, 4096L)

  /** q231: SEQUENCE-LENGTH ABLATION — the decision table behind q57's
    * fixed `SeqLen`: for each candidate length, what concat-packing
    * the corpus at that length costs in PADDING (each (lang, shard)
    * stream's last sequence is part-empty — shorter sequences waste
    * less tail) versus DOCUMENT STRADDLES (documents split across
    * sequence boundaries lose attention context at the cut — longer
    * sequences cut fewer documents). Both move monotonically in
    * opposite directions (the candidate lengths are nested powers of
    * two, so every longer length's boundaries are a subset of every
    * shorter one's), which is exactly why this is a measured table and
    * not a formula: the crossing point depends on the corpus's
    * document-length distribution. Per candidate: total sequences,
    * padded tokens, padding in milli of the packed volume, and
    * straddled documents.
    *
    * Scale: ONE q57 window pass (per-stream running offsets, state
    * bounded by `ShardDocs`) shared by all candidates; per-candidate
    * numbers are row-local integer arithmetic over doc-grain rows
    * folded by one aggregation — the candidate sweep adds zero
    * shuffles. Output is |candidates| rows.
    */
  def packAblation(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.operators.Checkpoints.CpOps
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        expr(s"doc_id DIV ${TextAnalysis.ShardDocs}").as("shard"),
        size(graft.functions.Portable.words(col("text")))
          .cast("long").as("n_tokens"))
      .withColumn("start_off",
        sum(col("n_tokens")).over(
          Window.partitionBy(col("lang"), col("shard"))
            .orderBy(col("doc_id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          - col("n_tokens"))
      // one scan + one window pass shared by every candidate branch
      .cp()
    val perLen = PackLens.map { l =>
      // per-doc, row-local: how many L-boundaries the doc's token span
      // crosses; per-stream totals fold to sequences and tail padding
      val streams = base.groupBy(col("lang"), col("shard"))
        .agg(sum(col("n_tokens")).as("toks"),
          sum(when(col("n_tokens") > 0,
            expr(s"(start_off + n_tokens - 1) DIV $l - start_off DIV $l"))
            .otherwise(lit(0L))).as("straddles"))
        .withColumn("n_seqs", expr(s"(toks + $l - 1) DIV $l"))
      streams.agg(
        lit(l).as("seq_len"),
        sum(col("n_seqs")).as("n_seqs"),
        (sum(col("n_seqs")) * l - sum(col("toks"))).as("pad_tokens"),
        expr(s"(1000 * (sum(n_seqs) * $l - sum(toks))) DIV (sum(n_seqs) * $l)")
          .as("pad_milli"),
        sum(col("straddles")).as("n_straddles"))
        .select(col("seq_len"), col("n_seqs"), col("pad_tokens"),
          col("pad_milli"), col("n_straddles"))
    }
    perLen.reduce(_ unionByName _)
  }

  // q231 replay: q57's window CTE once, then the candidate sweep as a
  // lateral over the length list — identical integer arithmetic
  private val packAblationSql = {
    val lens = PackLens.mkString("[", ", ", "]")
    s"""WITH d AS (SELECT doc_id, lang, doc_id // ${TextAnalysis.ShardDocs} AS shard,
       |             len(list_filter(string_split(text, ' '), w -> w <> '')) n_tokens
       |           FROM documents),
       |c AS (SELECT doc_id, lang, shard, CAST(n_tokens AS BIGINT) n_tokens,
       |        CAST(sum(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
       |          ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) start_off
       |      FROM d),
       |ls AS (SELECT unnest($lens) l),
       |st AS (SELECT l, lang, shard, CAST(sum(n_tokens) AS BIGINT) toks,
       |         CAST(sum(CASE WHEN n_tokens > 0
       |           THEN (start_off + n_tokens - 1) // l - start_off // l
       |           ELSE 0 END) AS BIGINT) straddles
       |       FROM c, ls GROUP BY l, lang, shard),
       |sq AS (SELECT l, lang, shard, toks, straddles,
       |         (toks + l - 1) // l AS n_seqs FROM st)
       |SELECT l AS seq_len, CAST(sum(n_seqs) AS BIGINT) n_seqs,
       |  CAST(sum(n_seqs) * l - sum(toks) AS BIGINT) pad_tokens,
       |  CAST((1000 * (sum(n_seqs) * l - sum(toks)))
       |    // (sum(n_seqs) * l) AS BIGINT) pad_milli,
       |  CAST(sum(straddles) AS BIGINT) n_straddles
       |FROM sq GROUP BY l""".stripMargin
  }

  /** q234 shape: training epochs to lay out, loader workers per epoch. */
  private[graft] val ShufEpochs = 3
  private[graft] val ShufWorkers = 4

  /** q234: TRAINING-ORDER EPOCH SHUFFLE — the reshuffle-every-epoch a
    * training loader needs: per epoch, every document gets a salted
    * pseudorandom rank (the q170 decorrelation discipline — hashing,
    * never a stateful RNG, so any worker can recompute any epoch's
    * order from the key alone), is dealt to a loader worker by rank,
    * and receives its 1-based position in that worker's read order.
    * Epochs use different salts, so consecutive epochs present the
    * corpus in decorrelated orders — the property that distinguishes a
    * real shuffle from a cached order replayed thrice (gradient noise
    * decorrelation is the point of epoch reshuffling). Deterministic
    * end-to-end: resuming a crashed epoch at position p is a pure
    * recomputation, no shuffle state to persist.
    *
    * Scale: rank and worker assignment are row-local (one hash per
    * (epoch, doc)); the ONLY exchange is the (epoch, worker)
    * partition for position numbering, whose partitions are exactly
    * the per-worker shards a loader sorts for itself anyway — worker
    * count scales with the cluster, so no partition outgrows one
    * loader's share. Epochs multiply rows ×E row-locally (explode,
    * not a join).
    */
  def epochShuffle(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.Portable.hash60
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(sequence(lit(0), lit(ShufEpochs - 1))).as("epoch"))
      .withColumn("rnk", hash60(concat(lit("epshuf:"),
        col("epoch").cast("string"), lit(":"),
        col("doc_id").cast("string"))))
      .withColumn("worker", (col("rnk") % ShufWorkers).cast("int"))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("epoch"), col("worker"))
          .orderBy(col("rnk"), col("doc_id"))))
      .select(col("epoch"), col("worker"), col("doc_id"), col("pos"))
  }

  // q234 replay: identical salt, hash, deal, and position window
  private val epochShuffleSql = {
    import graft.functions.Portable.sqlHash60
    val h = sqlHash60("'epshuf:' || CAST(epoch AS VARCHAR) || ':' || " +
      "CAST(doc_id AS VARCHAR)")
    s"""WITH e AS (SELECT doc_id, CAST(unnest(range(0, $ShufEpochs))
       |             AS INTEGER) epoch
       |           FROM documents),
       |r AS (SELECT epoch, doc_id, @H@ rnk FROM e),
       |w AS (SELECT epoch, doc_id, rnk,
       |        CAST(rnk % $ShufWorkers AS INTEGER) worker FROM r)
       |SELECT epoch, worker, doc_id,
       |  CAST(row_number() OVER (PARTITION BY epoch, worker
       |    ORDER BY rnk, doc_id) AS INTEGER) pos
       |FROM w""".stripMargin
      .replace("@H@", h)
  }

  /** q235: RELEASE DECONTAMINATION GATE — the launch check a training
    * run ships behind: pack a TRAIN-ONLY release (the corpus minus the
    * q226 eval slate) through q212's packed-release sink, then prove
    * the separation FROM THE SHIPPED BYTES — the release files' own
    * membership fragments are re-read and intersected with the slate.
    * Output is the gate's summary row: slate size, distinct member
    * documents in the shipped release, and the leak count (which the
    * oracle pins at ZERO — a packing bug that lets one eval document
    * through changes the read-back members and fails the hash). The
    * detector's power is spec-proven non-vacuous: packing WITHOUT the
    * exclusion makes the same intersection fire.
    *
    * Scale: the slate is quota-bounded (≤ quota × languages ×
    * terciles — KB), so the exclusion anti-join and the leak
    * intersection both broadcast it; membership re-read fans out one
    * partition per release file; everything else is q212's machinery.
    */
  def releaseDecontam(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Portable.withScalar
    val slateIds = Quality.evalSlateCached(spark, dir).select(col("doc_id"))
    val out = relDecontamFixture(spark, dir)
    // member fragments are "tOFFSET:dDOCID+FILL" — lift the doc id
    val members = packRelParse(spark, out)
      .select(explode(split(col("members"), ",")).as("m"))
      .select(regexp_extract(col("m"), ":d(\\d{10})\\+", 1)
        .cast("long").as("doc_id"))
    val row = members.agg(countDistinct(col("doc_id"))
      .as("n_train_members"))
    withScalar(withScalar(row,
        slateIds.agg(count(lit(1)).as("n_eval"))),
        members.join(broadcast(slateIds), "doc_id")
          .agg(count(lit(1)).as("n_leaked")))
      .select(col("n_eval"), col("n_train_members"), col("n_leaked"))
  }

  private val relDecontamFixture = SessionFixture("reldecon") {
    (spark, dir) =>
      val o = Scratch.dir("graft_reldecon")
      val slateIds = Quality.evalSlateCached(spark, dir).select(col("doc_id"))
      val train = packRelDocs(spark, dir, PackRelStreams)
        .join(broadcast(slateIds), Seq("doc_id"), "left_anti")
      writePackRel(packRelKeyed(packRelSeqs(train)), o, PackRelStreams)
      o
  }

  // q235 replay: slate count from the q226 chain; members = every
  // non-empty train doc (packing conserves membership — q212's proven
  // contract); leaks = zero BY CONSTRUCTION of the exclusion, so the
  // engine's from-the-bytes count must land exactly there
  private val releaseDecontamSql =
    """WITH slate AS (SELECT doc_id FROM (@SLATE@))
      |SELECT
      |  (SELECT CAST(count(*) AS BIGINT) FROM slate) AS n_eval,
      |  (SELECT CAST(count(*) AS BIGINT) FROM documents
      |   WHERE len(@WS@) > 0
      |     AND doc_id NOT IN (SELECT doc_id FROM slate))
      |    AS n_train_members,
      |  CAST(0 AS BIGINT) AS n_leaked""".stripMargin
      .replace("@SLATE@", Quality.evalSlateSql)
      .replace("@WS@", graft.functions.Portable.sqlWords)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q196_version_pin" -> versionPin,
    "q199_export_balance" -> exportBalance,
    "q204_version_delta" -> versionDelta,
    "q212_packed_release" -> packedRelease,
    "q245_icp_release" -> icpRelease,
    "q246_shipped_coherence" -> shippedCoherence,
    "q213_packed_erasure" -> packedErasureRead,
    "q171_export_sink" -> exportShards,
    "q231_pack_ablation" -> packAblation,
    "q234_epoch_shuffle" -> epochShuffle,
    "q235_release_decontam" -> releaseDecontam)

  val oracle: Map[String, String] = Map(
    "q196_version_pin" -> versionPinSql,
    "q199_export_balance" -> exportBalanceSql,
    "q204_version_delta" -> versionDeltaSql,
    "q212_packed_release" -> packedReleaseSql,
    "q245_icp_release" -> icpReleaseSql,
    "q246_shipped_coherence" -> shippedCoherenceSql,
    "q213_packed_erasure" -> packedErasureSql,
    "q171_export_sink" -> exportShardsSql,
    "q231_pack_ablation" -> packAblationSql,
    "q234_epoch_shuffle" -> epochShuffleSql,
    "q235_release_decontam" -> releaseDecontamSql)
}
