package graft.operators

import java.io.{ByteArrayInputStream, File, FileOutputStream}

import com.github.luben.zstd.{ZstdInputStream, ZstdOutputStream}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.ProtoWire
import graft.sources.Tables

/** Scratch directories for the sink/stream round-trip queries, rooted
  * under ONE per-JVM directory that a shutdown hook removes recursively —
  * repeated invocations (bench runs every query twice, rounds repeat)
  * stop accumulating zstd files and checkpoints in /tmp.
  */
private[graft] object Scratch {
  /** Memory-backed scratch root when the host mounts one: streaming
    * state stores and offset/commit logs fsync every micro-batch, and
    * that constant machinery — not data volume — dominates the ~20
    * on-build queries' sweep cost. Scratch is ephemeral by definition
    * (the shutdown hook deletes it), so tmpfs semantics fit exactly;
    * falls back to java.io.tmpdir when no tmpfs is mounted.
    */
  private[graft] lazy val preferredTmp: Option[java.nio.file.Path] =
    Some(java.nio.file.Paths.get("/dev/shm")).filter(p =>
      java.nio.file.Files.isDirectory(p) && java.nio.file.Files.isWritable(p) &&
        // tmpfs is RAM-capped: require headroom well beyond what the
        // scratch tree (fixtures, checkpoints, state stores) ever
        // holds, or stay on the disk-backed default
        java.nio.file.Files.getFileStore(p).getUsableSpace >
          8L * 1024 * 1024 * 1024)

  private lazy val root: java.nio.file.Path = {
    val r = preferredTmp match {
      case Some(shm) => java.nio.file.Files.createTempDirectory(shm,
        "graft_scratch")
      case None => java.nio.file.Files.createTempDirectory("graft_scratch")
    }
    Runtime.getRuntime.addShutdownHook(new Thread(() => delete(r.toFile)))
    r
  }
  private[operators] def delete(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
    ()
  }
  def dir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(root, prefix)
      .toFile.getAbsolutePath
}

/** O12+O13: the reference's sink — length-delimited proto3 Row messages
  * folded into zstd-compressed files (`Runner.java:75-82,114-145`,
  * codec `:126`) — re-expressed as one output file PER TASK instead of
  * one global stream: `part-NNNNN.proto.zst` per partition, the
  * embarrassingly-parallel layout that scales (a single fold stream
  * would serialise the whole cluster through one writer at 100 TB).
  * zstd via zstd-jni, which ships with the Spark runtime.
  */
object Sink {

  /** Write each partition of framed messages as one .proto.zst file.
    * The low-level fallback path (pre-encoded bytes in, foreachPartition
    * out); the queries below use the DSv2 write ([[writeNested]]), which
    * adds the task-commit protocol.
    */
  def writeFramed(framed: DataFrame, outDir: String): Unit =
    framed.foreachPartition { (it: Iterator[Row]) =>
      if (it.hasNext) {
        val pid = TaskContext.getPartitionId()
        val f = new File(outDir, f"part-$pid%05d.proto.zst")
        val os = new ZstdOutputStream(new FileOutputStream(f))
        try it.foreach(r => os.write(r.getAs[Array[Byte]](0)))
        finally os.close()
      }
    }

  /** The main sink path: nested (key, columns) rows through the DSv2
    * proto-zst writer — encode in the writer, one file per task,
    * tmp+rename task commit ([[graft.sources.ProtoZstWriterFactory]]).
    */
  def writeNested(nested: DataFrame, outDir: String): Unit =
    nested.write.format("proto-zst").mode("append").save(outDir)

  /** One shared nested-rows sink fixture per (context, sf dir). The
    * write path itself is measured by q29 (which always writes fresh);
    * the read-path queries (q30/q36/q46, streaming q48) are about the
    * READ and reuse one on-disk fixture instead of re-writing identical
    * files on every invocation (Bench runs every query twice). Every
    * on-disk fixture is a [[SessionFixture]] like this one.
    */
  val nestedFixture = SessionFixture("sink_nested") {
    (spark, dir) =>
      val out = Scratch.dir("graft_fix")
      writeNested(CellModel.nestRows(spark, dir), out)
      out
  }

  /** q29: full sink round trip — encode (nest + proto3 + varint frame),
    * write zstd files, read them back with the binaryFile source,
    * decode the wire format, and return corpus totals that the DuckDB
    * oracle reproduces from the raw table: live-partition count must
    * equal decoded Row count, live-cell count must equal decoded
    * Column count. This is the end-to-end proof the sink's bytes are
    * parseable and complete.
    */
  def sinkRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val outDir = Scratch.dir("graft_sink")
    writeNested(CellModel.nestRows(spark, dir), outDir)
    val decoded = spark.read.format("binaryFile")
      .load(outDir + "/*.proto.zst")
      .select(col("content")).as[Array[Byte]]
      .map { bytes =>
        val in = new ZstdInputStream(new ByteArrayInputStream(bytes))
        val all = try in.readAllBytes() finally in.close()
        ProtoWire.decodeStats(all)
      }
    decoded.toDF("rows_in_file", "cols_in_file")
      .agg(sum(col("rows_in_file")).as("n_rows"),
        sum(col("cols_in_file")).as("n_columns"))
  }

  /** q30: write the sink files, then read them back through the
    * proto-zst DataSource V2 reader ([[graft.sources.ProtoZstDataSource]])
    * and re-flatten — the decoded cells must hash-match the live flat
    * cells straight from the raw table. Write path and read path verify
    * each other end-to-end through the actual on-disk format.
    */
  def protoSourceRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{decode, explode}
    val outDir = nestedFixture(spark, dir)
    spark.read.format("proto-zst").load(outDir)
      .select(col("key"), explode(col("columns")).as("c"))
      .select(decode(col("key"), "UTF-8").as("key"),
        decode(col("c.name"), "UTF-8").as("name"),
        decode(col("c.value"), "UTF-8").as("value"),
        col("c.write_time").as("write_time"))
  }

  /** q36: SHUFFLE-FREE per-key aggregation by reusing the sink's
    * partitioning (SURVEY §4.3 made concrete). The sink wrote exactly
    * one nested Row per key, key-disjoint across files; the proto-zst
    * source keeps one partition per file — so per-key stats are a pure
    * PROJECTION over the nested rows: zero exchanges end-to-end, yet
    * globally correct for every key. This is the "reuse a partitioning
    * across stages" pattern: pay the groupBy shuffle once at write
    * time, then every downstream per-key pass is narrow. The columns
    * array arrives sorted (sort_array at nest time), so min/max name
    * are its first/last elements.
    */
  def noShuffleStats(spark: SparkSession, dir: String): DataFrame = {
    val outDir = nestedFixture(spark, dir)
    spark.read.format("proto-zst").load(outDir)
      .select(decode(col("key"), "UTF-8").as("key"),
        size(col("columns")).cast("long").as("n_cells"),
        // guard the empty-partition Rows (ANSI element_at throws OOB)
        when(size(col("columns")) > 0,
          decode(element_at(col("columns.name"), 1), "UTF-8")).as("first_name"),
        when(size(col("columns")) > 0,
          decode(element_at(col("columns.name"), -1), "UTF-8")).as("last_name"))
  }

  /** q46: key-range scan over the sink files with the predicate PUSHED
    * into the proto-zst source and the columns array PRUNED away — the
    * engine analog of the reference's index-summary key seek
    * (`SSTableScannerPatched.java:56-93`): dropped frames are skipped on
    * their key bytes alone and Column messages are never decoded, so a
    * key listing pays key-parse cost only (PlanSpec asserts both the
    * pushed filter and the key-only read schema).
    */
  def keyPushdownScan(spark: SparkSession, dir: String): DataFrame = {
    val outDir = nestedFixture(spark, dir)
    spark.read.format("proto-zst").load(outDir)
      .filter(col("key") >= lit("200".getBytes("UTF-8")) &&
        col("key") < lit("300".getBytes("UTF-8")))
      .select(decode(col("key"), "UTF-8").as("key"))
  }

  /** Range-partitioned sink fixture: nested rows written through
    * `repartitionByRange(8, key)`, so each task's file covers a
    * contiguous, near-disjoint key range and the writer's `.range`
    * sidecars become maximally selective. This is the layout a real
    * key-range workload would write (the reference's files are
    * key-sorted for the same reason).
    */
  val rangedFixture = SessionFixture("sink_ranged") {
    (spark, dir) =>
      val out = Scratch.dir("graft_rngfix")
      writeNested(CellModel.nestRows(spark, dir)
        .repartitionByRange(8, col("key")), out)
      out
  }

  /** q60: the file-SKIPPING key-range scan — q46 proves frames are
    * dropped cheaply at decode time; this proves whole FILES are
    * dropped at plan time. The sink records each file's key min/max in
    * a `.range` sidecar at commit; `ProtoZstScan.planInputPartitions`
    * drops files whose range provably misses the pushed predicate, so
    * a selective scan over a range-partitioned corpus never lists,
    * opens, or decompresses the irrelevant files at all — the true
    * analog of the reference's index-summary seek
    * (`SSTableReaderPatched.java:221-233`). PlanSpec asserts the
    * planned partition count is below the file count.
    */
  def fileSkipScan(spark: SparkSession, dir: String): DataFrame = {
    val outDir = rangedFixture(spark, dir)
    spark.read.format("proto-zst").load(outDir)
      .filter(col("key") >= lit("200".getBytes("UTF-8")) &&
        col("key") < lit("300".getBytes("UTF-8")))
      .select(decode(col("key"), "UTF-8").as("key"),
        size(col("columns")).cast("long").as("n_cells"))
  }

  /** Content-addressed fixture for q230: documents keyed by md5(text),
    * written in FOUR separate commits (doc_id % 4) so every file spans
    * essentially the full hash keyspace — the layout where range skip
    * is powerless (each epoch's min..max covers everything) and only a
    * per-file bloom can prove a file key-free. The q208 export and the
    * q214 history screen produce exactly this shape in production.
    */
  private val bloomFixture = SessionFixture("bloomget") {
    (spark, dir) =>
      val out = Scratch.dir("graft_bloomfix")
      val rows = Tables.documents(spark, dir)
        .select(col("doc_id"), encode(md5(col("text")), "UTF-8").as("key"),
          array(struct(
            encode(lit("doc"), "UTF-8").as("name"),
            encode(col("doc_id").cast("string"), "UTF-8").as("value"),
            col("doc_id").as("write_time"))).as("columns"))
      (0 until 4).foreach { b =>
        writeNested(rows.filter(col("doc_id") % 4 === b)
          .select(col("key"), col("columns")).repartition(1), out)
      }
      out
  }

  /** q230: BLOOM POINT-GET — Cassandra's per-SSTable bloom-filter read
    * path (Filter.db: probe the bloom before touching the file) on the
    * engine's own format: a single-key lookup in a content-addressed
    * multi-epoch corpus. Every sink file carries a `.bloom` sidecar
    * (fixed 2^17-bit, 3-probe, filled for free at write); a pushed
    * `key =` predicate probes it per task BEFORE decompressing, so the
    * epochs that provably lack the key cost one ~16 KB sidecar read
    * instead of a file decode. Hash keys make every file's range cover
    * the whole keyspace — the regime where the manifest's range skip
    * cannot prune and the bloom is the only thing standing between a
    * point-get and a full corpus decode (the "does this content hash
    * already exist" read q208/q214 pipelines issue constantly).
    *
    * Scale: planning stays O(manifest); execution probes one bloom per
    * surviving file task-side and decodes only bloom-passing files
    * (expected: the one file holding the key, plus ~0.1% false
    * positives at epoch file sizes). SourceExtensionSpec pins the skip
    * mechanics (probe/skip counters, absence degradation); this query
    * pins the end-to-end answer against the oracle.
    */
  def bloomGet(spark: SparkSession, dir: String): DataFrame = {
    val out = bloomFixture(spark, dir)
    // deterministic probe: the md5 of the smallest doc_id's text —
    // a 1-row driver pick (the bounded control-decision class)
    val target = Tables.documents(spark, dir)
      .orderBy(col("doc_id")).limit(1)
      .select(md5(col("text"))).head().getString(0)
    spark.read.format("proto-zst").load(out)
      .filter(col("key") === lit(target.getBytes("UTF-8")))
      .select(decode(col("key"), "UTF-8").as("k"),
        explode(col("columns")).as("c"))
      .select(col("k"), decode(col("c.value"), "UTF-8").as("doc"),
        col("c.write_time").as("t"))
  }

  /** q239 fixture: the WHOLE corpus as ONE key-sorted file with small
    * (64-row) zstd frames — the regime complementary to q230's: range
    * skip is powerless (one file spans everything), the bloom passes
    * (the key IS present), and only the `.split` v2 frame-key index
    * stands between a point-get and decoding the entire file.
    */
  private val seekFixture = SessionFixture("frameseek") {
    (spark, dir) =>
      val out = Scratch.dir("graft_seekfix")
      CellModel.nestRows(spark, dir)
        .repartitionByRange(1, col("key")).sortWithinPartitions(col("key"))
        .write.format("proto-zst").option("splitFrameRows", "64")
        .mode("append").save(out)
      out
  }

  /** q239: FRAME-INDEX POINT-GET — the reference's Index.db seek
    * (`SSTableReaderPatched.java:54-97` walks `(key, position)` pairs
    * to jump into the data file) on the engine's format: a pushed
    * `key IN` over a single large key-sorted file decodes only the
    * frames whose boundary keys admit the candidates, not the file.
    * Probe keys are deterministic driver picks (min, max, and the
    * first key at-or-above '5' — three 1-row aggregates, the bounded
    * control-decision class) so the oracle replays the exact choices.
    * FrameSeekSpec pins the seek mechanics (frameSeeks/seekBytes
    * counters, duplicate keys straddling frame boundaries, unsorted
    * fallback); this query pins the end-to-end answer.
    */
  def frameSeekGet(spark: SparkSession, dir: String): DataFrame = {
    val out = seekFixture(spark, dir)
    val all = spark.read.format("proto-zst").load(out)
    val mid = Option(all.filter(col("key") >= lit("5".getBytes("UTF-8")))
      .agg(min(col("key"))).head().getAs[Array[Byte]](0))
    val probes: Seq[Array[Byte]] = Seq(
      all.agg(min(col("key"))).head().getAs[Array[Byte]](0),
      all.agg(max(col("key"))).head().getAs[Array[Byte]](0)) ++ mid
    spark.read.format("proto-zst").load(out)
      .filter(col("key").isin(probes: _*))
      .select(decode(col("key"), "UTF-8").as("key"),
        size(col("columns")).cast("long").as("n_cells"))
  }

  /** q47: PER-INPUT-FILE job metrics — the O14 fidelity gap closed. The
    * reference reports, for every input file it processes, the row
    * count and output size (`Runner.java:88-97`); here every sink file
    * reports its decoded Row count, Column count and uncompressed wire
    * bytes, keyed by the file it came from (the binaryFile source's
    * `path` column — one task per file, decode amortised per task).
    *
    * Determinism for the oracle: rows are bucketed by `user_id % 4` and
    * each bucket written as ONE file, so file identity == bucket and
    * the DuckDB side can rebuild every file's metrics analytically from
    * the raw table (per-key wire sizes, as in q06). At scale the same
    * query runs over whatever files exist — grouped by `path`, no
    * single-partition writes needed.
    */
  def perFileMetrics(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val outDir = pfmFixture(spark, dir)
    spark.read.format("binaryFile").load(outDir + "/bucket=*/*.proto.zst")
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .map { case (path, bytes) =>
        val in = new ZstdInputStream(new ByteArrayInputStream(bytes))
        val all = try in.readAllBytes() finally in.close()
        val (rows, cols) = ProtoWire.decodeStats(all)
        val bucket = path.split("bucket=")(1).split("/")(0).toLong
        (bucket, rows, cols, all.length.toLong)
      }.toDF("bucket", "n_rows", "n_columns", "wire_bytes")
  }

  // the q47 bucketed layout is a fixture too: deterministic content, so
  // one write per (context, sf dir) serves every invocation
  private val pfmFixture = SessionFixture("pfm") {
    (spark, dir) =>
      val out = Scratch.dir("graft_pfm")
      val nested = CellModel.nestRows(spark, dir)
        .withColumn("bucket", expr("CAST(decode(key, 'UTF-8') AS BIGINT) % 4"))
      (0 until 4).foreach { b =>
        writeNested(nested.filter(col("bucket") === b).drop("bucket")
          .repartition(1), s"$out/bucket=$b")
      }
      out
  }

  private val HourUs = 3600000000L
  /** Bucket count for the generation fixtures — small at test scale; at
    * 100 TB you size this like any bucketing (thousands), and the plan
    * shapes below are unchanged.
    */
  private[operators] val GenBuckets = 4

  /** Two co-bucketed sink generations written through the graft
    * catalog with the same 4-bucket spec: gen0 = the full nested live
    * corpus; gen1 = the q53 overlay re-expressed in the sink's own
    * layout — updates (keys ≡ 2 mod 5: value||'@2', +1h) and
    * tombstones (keys ≡ 4 mod 5: EMPTY value, +1h; the nested format
    * carries no cell kind, so empty-value is the layout's deletion
    * marker, shadowing then dropping on merge).
    */
  val bucketedGens = SessionFixture("sink_generations")(buildGens)

  /** Build a FRESH gen0/gen1 pair (not the shared fixture) — the
    * vacuum path (q103, spec) deletes generations, so it must never
    * operate on the fixture the q61/q80/q81 family still reads.
    */
  private[graft] def buildGens(spark: SparkSession,
      dir: String): (String, String) = {
    graft.sources.GraftCatalog.ensure(spark)
    val conf = graft.sources.ProtoZstFiles.hadoopConf()
    val g0 = Scratch.dir("graft_gen0")
    val g1 = Scratch.dir("graft_gen1")
    graft.sources.GraftBucket.writeSpec(g0, GenBuckets, conf)
    graft.sources.GraftBucket.writeSpec(g1, GenBuckets, conf)
    CellModel.nestRows(spark, dir)
      .writeTo(graft.sources.GraftCatalog.tableName(g0)).append()
    val live0 = CellModel.cellStrings(spark, dir)
      .filter(col("kind") === "live" && !col("partition_deleted"))
    val upd = live0.filter(col("key").cast("long") % 5 === 2)
      .withColumn("value", concat(col("value"), lit("@2")))
      .withColumn("write_time", col("write_time") + HourUs)
    val del = live0.filter(col("key").cast("long") % 5 === 4)
      .withColumn("value", lit(""))
      .withColumn("write_time", col("write_time") + HourUs)
    CellModel.nestCells(CellModel.cellsOf(upd.unionByName(del)))
      .writeTo(graft.sources.GraftCatalog.tableName(g1)).append()
    (g0, g1)
  }

  /** q61: generation compaction STRAIGHT OVER THE SINK FILES with zero
    * exchanges — q53's merge semantics, but instead of re-shuffling raw
    * cells, the two generations are read through the graft catalog,
    * which reports their shared `bucket(4, key)` layout
    * ([[graft.sources.ProtoZstScan]] `outputPartitioning`): Catalyst
    * plans a storage-partitioned full-outer join (no exchange on either
    * side), and the per-key reconcile is the row-local
    * `merge_columns` kernel + an explode — nothing in the plan moves a
    * byte between partitions. The write-time shuffle that bucketed the
    * generations is paid ONCE; every later compaction pass over them is
    * narrow, which is exactly how a 100 TB multi-generation store wants
    * to compact.
    */
  def compactSink(spark: SparkSession, dir: String): DataFrame = {
    val (g0, g1) = bucketedGens(spark, dir)
    decodeLiveCells(mergedGens(spark, g0, g1))
  }

  /** The merged nested (key bytes, cols) frame of two co-bucketed
    * generations — the zero-exchange storage-partitioned merge that
    * q61's read and q103's compaction WRITE both plan.
    */
  private[operators] def mergedGens(spark: SparkSession, g0: String,
      g1: String): DataFrame = {
    graft.sources.GraftCatalog.ensure(spark)
    val a = spark.table(graft.sources.GraftCatalog.tableName(g0)).as("g0")
    val b = spark.table(graft.sources.GraftCatalog.tableName(g1)).as("g1")
    val emptyCols = array()
      .cast("array<struct<name:binary,value:binary,write_time:bigint>>")
    // merge hint: generations are never broadcast-sized at 100 TB; pin
    // the scale-representative zero-exchange storage-partitioned merge
    // even at test SFs, where the reported sidecar stats (small!) would
    // otherwise let the planner pick a broadcast join
    a.join(b.hint("merge"), col("g0.key") === col("g1.key"), "fullouter")
      .select(coalesce(col("g0.key"), col("g1.key")).as("key"),
        graft.functions.ArrayOps.merge_columns(
          coalesce(col("g0.columns"), emptyCols),
          coalesce(col("g1.columns"), emptyCols)).as("cols"))
  }

  /** Explode a nested (key, cols) frame to decoded live cells: the
    * shared read tail of q61/q80/q103 — tombstone winners (empty
    * value) drop out here.
    */
  private[operators] def decodeLiveCells(merged: DataFrame): DataFrame =
    merged.select(col("key"), explode(col("cols")).as("c"))
      .filter(length(col("c.value")) > 0)
      .select(decode(col("key"), "UTF-8").as("key"),
        decode(col("c.name"), "UTF-8").as("name"),
        decode(col("c.value"), "UTF-8").as("value"),
        col("c.write_time").as("write_time"))

  /** q62: per-key AGGREGATION over the bucketed sink files planning
    * ZERO exchanges — the planner-visible upgrade of q36's projection
    * trick. q36 avoids the shuffle because the nest already packed one
    * Row per key; q62's aggregation genuinely groups (explode → count/
    * sum per key), and Catalyst drops the exchange because the scan
    * REPORTS its bucket(4, key) layout (`KeyGroupedPartitioning`
    * satisfies the aggregation's clustering requirement). This is the
    * general contract: ANY per-key groupBy over a bucketed proto-zst
    * directory — not just shapes the sink pre-aggregated — plans
    * shuffle-free, which at 100 TB turns every recurring per-key pass
    * over stored data into a narrow stage.
    */
  def bucketedKeyStats(spark: SparkSession, dir: String): DataFrame = {
    val (g0, _) = bucketedGens(spark, dir)
    graft.sources.GraftCatalog.ensure(spark)
    spark.table(graft.sources.GraftCatalog.tableName(g0))
      .select(col("key"), explode_outer(col("columns")).as("c"))
      .groupBy(col("key"))
      .agg(count(col("c.name")).as("n_cells"),
        coalesce(sum(length(col("c.value"))), lit(0L)).as("value_bytes"))
      .select(decode(col("key"), "UTF-8").as("key"),
        col("n_cells"), col("value_bytes"))
  }

  /** q64: corpus statistics answered from METADATA alone — an
    * ungrouped COUNT(*)/MIN(key)/MAX(key) over the sink directory is
    * completely pushed into the proto-zst source
    * ([[graft.sources.ProtoZstScanBuilder]] `pushAggregation`), which
    * answers it from the per-file `.range` sidecars at plan time: the
    * whole query collapses to one precomputed row; zero files opened,
    * zero frames decompressed, zero aggregation executed. The analog
    * of parquet-footer `count()` and of the reference keeping row
    * counts and key bounds in Statistics.db beside the data
    * (`SSTableReaderPatched.java:221-233`). At 100 TB this is the
    * difference between a monitoring query that reads a few KB of
    * sidecars and one that decompresses the corpus; any file missing a
    * counted sidecar vetoes the pushdown, so the same query stays
    * correct (just slower) over foreign-written directories. PlanSpec
    * asserts the plan carries the pushed aggregation and no aggregate
    * operator over data.
    */
  def sidecarStats(spark: SparkSession, dir: String): DataFrame = {
    val outDir = nestedFixture(spark, dir)
    spark.read.format("proto-zst").load(outDir)
      .agg(count("*").as("n_rows"),
        min(col("key")).as("min_key"),
        max(col("key")).as("max_key"))
      .select(col("n_rows"),
        decode(col("min_key"), "UTF-8").as("min_key"),
        decode(col("max_key"), "UTF-8").as("max_key"))
  }

  /** q65: RUNTIME file pruning — the dynamic half of q60's plan-time
    * skip. The cohort's keys live in another table behind a predicate
    * static pushdown can't see through (an int range on `c_custkey`
    * does not rewrite to a string-key range); only at RUN time, once
    * the dimension is broadcast, does the scan learn the actual key
    * set ([[graft.sources.ProtoZstScan]] `SupportsRuntimeFiltering`)
    * and drop every file whose sidecar range misses it — Spark's DPP
    * machinery wired to the engine's own sidecar index. At 100 TB this
    * is "enrich the corpus with this cohort" reading the cohort's
    * files, not the corpus. The spec asserts the injected runtime
    * filter AND the file-level prune; correctness is the ordinary join
    * oracle.
    */
  def runtimePrunedJoin(spark: SparkSession, dir: String): DataFrame = {
    val outDir = rangedFixture(spark, dir)
    val corpus = spark.read.format("proto-zst").load(outDir)
    val dim = graft.sources.Tables(spark, dir, "customer")
      .filter(col("c_custkey").between(12, 13))
      .select(encode(col("c_custkey").cast("string"), "UTF-8").as("key"),
        col("c_name"))
    corpus.join(broadcast(dim), "key")
      .select(decode(col("key"), "UTF-8").as("key"), col("c_name"),
        size(col("columns")).cast("long").as("n_cells"))
  }

  /** Pack-target for [[optimizeSink]] — tiny at test scale so the
    * fixture genuinely fragments; production sizes this like any file
    * target (hundreds of MB to 1 GB).
    */
  val OptTargetBytes: Long = 64L * 1024

  /** The DataFrame q89 writes: the bucketed generation read through the
    * catalog with an EXPLICIT `sortWithinPartitions(key)` — which
    * Catalyst elides entirely, because the scan reports its
    * sidecar-attested per-partition key order
    * ([[graft.sources.ProtoZstScan]] `outputOrdering`). Exposed
    * separately so PlanSpec can assert the rewrite plan carries no Sort
    * and no Exchange node.
    */
  def orderedReexportFrame(spark: SparkSession, dir: String): DataFrame = {
    val (g0, _) = bucketedGens(spark, dir)
    graft.sources.GraftCatalog.ensure(spark)
    spark.table(graft.sources.GraftCatalog.tableName(g0))
      .sortWithinPartitions(col("key"))
  }

  /** q89: ORDERED RE-EXPORT — rewrite a bucketed generation into a
    * fresh sink directory, preserving the key-sorted clustered layout
    * WITHOUT re-sorting anything: the requested
    * `sortWithinPartitions(key)` is satisfied by the scan's reported
    * ordering, so the physical plan is scan → write — no Sort, no
    * Exchange (PlanSpec asserts both; [[orderedReexportFrame]]). This
    * is the maintenance pass every long-lived store runs — codec
    * upgrades, recompression, fleet-wide rewrites — priced as a pure
    * copy: the layout cost was paid once at the original write, and
    * the ordering report (the engine analog of the reference's
    * in-order index walk, `SSTableScannerPatched.java:151-170`) is
    * what lets every later rewrite inherit it for free. The rewritten
    * files record sorted=true sidecars again, so the property
    * propagates through any number of rewrite generations. Returns the
    * re-export's flattened cells, hash-checked against the same
    * liveCells oracle as q30/q37/q48 — the sort-free rewrite is
    * provably lossless.
    */
  private[graft] val reexportFixture = SessionFixture("sink_reexport") {
    (spark, dir) =>
      val o = Scratch.dir("graft_reexp")
      orderedReexportFrame(spark, dir)
        .write.format("proto-zst").mode("append").save(o)
      o
  }

  def orderedReexport(spark: SparkSession, dir: String): DataFrame = {
    val out = reexportFixture(spark, dir)
    spark.read.format("proto-zst").load(out)
      .select(col("key"), explode(col("columns")).as("c"))
      .select(decode(col("key"), "UTF-8").as("key"),
        decode(col("c.name"), "UTF-8").as("name"),
        decode(col("c.value"), "UTF-8").as("value"),
        col("c.write_time").as("write_time"))
  }

  /** q80's time-travel instant: 2024-01-16T00:00:00Z in µs — mid-way
    * through the events corpus (2024-01-01..31) at every SF, so the
    * reconstructed state genuinely differs from both HEAD and either
    * generation alone.
    */
  val AsOfUs = 1705363200000000L

  /** q80: AS-OF (time-travel) READ over the sink generations — the
    * Cassandra reconciliation rule (largest write_time ≤ T wins,
    * empty-value tombstones shadow) evaluated at an historical instant:
    * cells written after [[AsOfUs]] are invisible, so a gen1 overlay or
    * tombstone "un-happens" and the gen0 value shows through — the
    * read-side complement of q53/q61's HEAD compaction, and the engine
    * analog of snapshot time travel in table formats.
    *
    * Plan shape: identical to q61's zero-exchange storage-partitioned
    * merge — the as-of cut is a row-local `filter()` over each nested
    * Row's columns array BEFORE the co-bucketed full-outer join, so the
    * time-travel read costs exactly what the HEAD read costs: no
    * exchange, no extra pass (PlanSpec asserts the plan stays
    * exchange-free). At 100 TB, reading "the corpus as of last Tuesday"
    * is the same narrow merge as reading today's.
    */
  def asofRead(spark: SparkSession, dir: String): DataFrame = {
    val (g0, g1) = bucketedGens(spark, dir)
    asofOf(spark, g0, g1, AsOfUs)
  }

  /** The as-of kernel over an explicit generation pair at an explicit
    * instant — q80's body, reused by the vacuum spec on private gens.
    */
  private[graft] def asofOf(spark: SparkSession, g0: String, g1: String,
      tUs: Long): DataFrame = {
    graft.sources.GraftCatalog.ensure(spark)
    def visible(name: String) =
      spark.table(graft.sources.GraftCatalog.tableName(name))
        .select(col("key"), filter(col("columns"),
          c => c.getField("write_time") <= tUs).as("columns"))
    val emptyCols = array()
      .cast("array<struct<name:binary,value:binary,write_time:bigint>>")
    decodeLiveCells(visible(g0).as("g0")
      // merge hint: see compactSink — pin the at-scale SPJ strategy
      .join(visible(g1).as("g1").hint("merge"),
        col("g0.key") === col("g1.key"), "fullouter")
      .select(coalesce(col("g0.key"), col("g1.key")).as("key"),
        graft.functions.ArrayOps.merge_columns(
          coalesce(col("g0.columns"), emptyCols),
          coalesce(col("g1.columns"), emptyCols)).as("cols")))
  }

  /** q81: CHANGE FEED between sink generations — the incremental
    * consumer's complement to q61's merge: instead of the merged HEAD,
    * emit WHAT CHANGED (per (key, cell): update with old/new values,
    * or delete where the overlay wrote a tombstone) — the table-format
    * "change data feed" expressed over the cell model, where the
    * overlay generation IS the change set and the only work is
    * classifying each overlay cell against the base.
    *
    * Plan shape: the co-bucketed generations join on key with ZERO
    * exchanges (the q61 storage-partitioned layout); the per-cell
    * old-value lookup is a row-local `filter()` over the base Row's
    * columns array — no (key, name)-grained shuffle ever happens. At
    * 100 TB a downstream consumer reads changes ∝ the overlay size,
    * never ∝ the corpus. (The fixture's overlay only rewrites existing
    * cells, so the feed contains updates and deletes; an insert — no
    * base Row for the key — would classify via the null branch the
    * same way.)
    */
  def changeFeed(spark: SparkSession, dir: String): DataFrame = {
    val (g0, g1) = bucketedGens(spark, dir)
    graft.sources.GraftCatalog.ensure(spark)
    val base = spark.table(graft.sources.GraftCatalog.tableName(g0))
      .select(col("key"), col("columns").as("base_cols"))
    val overlay = spark.table(graft.sources.GraftCatalog.tableName(g1))
    // merge hint: see compactSink — pin the at-scale SPJ strategy
    overlay.join(base.hint("merge"), Seq("key"), "left")
      .select(col("key"), explode(col("columns")).as("c"), col("base_cols"))
      .withColumn("old", element_at(
        filter(col("base_cols"), o => o.getField("name") === col("c.name")), 1))
      .select(decode(col("key"), "UTF-8").as("key"),
        decode(col("c.name"), "UTF-8").as("name"),
        when(col("old").isNull, "insert")
          .when(length(col("c.value")) === 0, "delete")
          .otherwise("update").as("change_type"),
        decode(col("old.value"), "UTF-8").as("old_value"),
        decode(col("c.value"), "UTF-8").as("new_value"),
        col("c.write_time").as("write_time"))
  }

  // ---- q103: generation VACUUM ------------------------------------

  /** q109 fixture: the documents table written as two parquet
    * "generations" with EVOLVED schemas under one root — gen=1 holds
    * the even doc_ids with the ORIGINAL narrow schema (doc_id, lang);
    * gen=2 holds the odd doc_ids with two columns ADDED (source,
    * n_chars). Neither generation is rewritten when the schema grows —
    * exactly how a 100 TB table evolves in place.
    */
  private[graft] val evolvedFixture = SessionFixture("sink_evolved") {
    (spark, dir) =>
      val out = Scratch.dir("graft_evo")
      val docs = Tables.documents(spark, dir)
      docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("lang"))
        .write.mode("overwrite").parquet(out + "/gen=1")
      docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .write.mode("overwrite").parquet(out + "/gen=2")
      out
  }

  /** q109: SCHEMA-EVOLUTION READ — one scan over both generations with
    * `mergeSchema`: the unified schema is the union of the per-file
    * footers, and columns a generation predates surface as NULL in its
    * rows, no old-file rewrite required. The oracle replays the
    * null-fill rule from the source table, so the merged read's
    * row-level content is hash-checked, not just counted.
    *
    * Scale: footer merging is a planning-time pass over file METADATA
    * (Spark samples/parallelizes it; a production lakehouse pins the
    * merged schema in a catalog so the read plans from one row) — the
    * data path is unchanged: column pruning and filters still reach
    * each file with that file's physical schema, and a query touching
    * only original columns reads zero bytes of the new ones.
    */
  def schemaEvolutionRead(spark: SparkSession, dir: String): DataFrame =
    spark.read.option("mergeSchema", "true")
      .parquet(evolvedFixture(spark, dir))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        col("gen"))

  /** q111 fixture: the documents table under two LAYOUTS — gen1 holds
    * the even doc_ids unpartitioned (the historical layout); gen2 holds
    * the odd doc_ids partitioned by `lang` (the evolved layout a
    * selective reader wants). Evolution rewrites nothing: new data
    * simply lands partitioned.
    */
  private[graft] val layoutFixture = SessionFixture("sink_layout") {
    (spark, dir) =>
      val out = Scratch.dir("graft_layout")
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      docs.filter(col("doc_id") % 2 === 0)
        .write.mode("overwrite").parquet(out + "/flat")
      docs.filter(col("doc_id") % 2 === 1)
        .write.partitionBy("lang").mode("overwrite").parquet(out + "/bylang")
      out
  }

  /** q111: PARTITION-EVOLUTION READ — one logical query over both
    * layouts: a `lang = 'en'` predicate reaches the evolved generation
    * as a PARTITION filter (only the `lang=en` directory is listed —
    * file-level pruning, zero bytes of other languages) and the
    * historical generation as an ordinary pushed row filter. The union
    * is the migration-window read path: history pays a scan+filter,
    * new data pays only its partition, and the cutover needs no 100 TB
    * rewrite — exactly how partition-spec evolution behaves in a
    * production lakehouse.
    */
  def partitionEvolutionRead(spark: SparkSession, dir: String): DataFrame = {
    val root = layoutFixture(spark, dir)
    val hist = spark.read.parquet(root + "/flat")
    val part = spark.read.parquet(root + "/bylang")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    hist.unionByName(part)
      .filter(col("lang") === "en")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
  }

  /** q223 fixture: ONE data file written with tiny zstd frames
    * (`splitFrameRows` = 4) so even the smallest toy corpus records
    * several frame checkpoints — the shape a multi-GB production file
    * has at the default 4096.
    */
  private[graft] val slicedFixture = SessionFixture("sliced") {
    (spark, dir) =>
      val out = Scratch.dir("graft_sliced")
      CellModel.nestRows(spark, dir).repartition(1)
        .write.format("proto-zst")
        .option("splitFrameRows", "4")
        .mode("append").save(out)
      out
  }

  /** q223: SLICED PARALLEL READ of one oversized file — the writer
    * ends its zstd frame every `splitFrameRows` rows and records the
    * frame offsets in a `.split` sidecar; the scan (here forced with
    * `splitFileBytes=1` — production uses the 128 MB default) turns
    * ONE file into many frame-aligned byte-range partitions, each
    * decoding independently. This removes the engine's last
    * straggler shape: before this, "read-back fans out one partition
    * per file" meant a skewed 10 GB file was a single task at any
    * cluster size. The oracle replays the nest from raw rows, so hash
    * equality proves slices partition the rows exactly — nothing
    * lost, nothing doubled at the cut points.
    */
  def slicedRead(spark: SparkSession, dir: String): DataFrame = {
    val out = slicedFixture(spark, dir)
    spark.read.format("proto-zst")
      .option("splitFileBytes", "1")
      .load(out)
      .select(decode(col("key"), "UTF-8").as("key"),
        size(col("columns")).cast("long").as("n_cells"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q223_sliced_read" -> slicedRead,
    "q111_partition_evolution" -> partitionEvolutionRead,
    "q109_schema_evolution" -> schemaEvolutionRead,
    "q89_ordered_reexport" -> orderedReexport,
    "q81_change_feed" -> changeFeed,
    "q80_asof_read" -> asofRead,
    "q29_sink_roundtrip" -> sinkRoundtrip,
    "q30_proto_source" -> protoSourceRoundtrip,
    "q36_noshuffle_stats" -> noShuffleStats,
    "q46_key_pushdown" -> keyPushdownScan,
    "q47_per_file_metrics" -> perFileMetrics,
    "q60_file_skip" -> fileSkipScan,
    "q61_compact_sink" -> compactSink,
    "q62_bucketed_stats" -> bucketedKeyStats,
    "q64_sidecar_stats" -> sidecarStats,
    "q65_runtime_prune" -> runtimePrunedJoin,
    "q230_bloom_get" -> bloomGet,
    "q239_frame_seek" -> frameSeekGet)

  /** Replay of the q61 merge: newest (write_time, gen) per (key, name)
    * wins, empty-value winners are tombstones and drop out. Shared by
    * q61 (the merge READ) and q103 (the same head read through the
    * post-vacuum compacted generation).
    */
  private[operators] val compactSql =
    s"""WITH live0 AS (SELECT key, name, value, write_time
       |  FROM (${Core.cellsSql})
       |  WHERE kind = 'live' AND NOT partition_deleted),
       |g1 AS (SELECT key, name, value || '@2' AS value,
       |         write_time + $HourUs AS write_time, 1 AS gen
       |       FROM live0 WHERE CAST(key AS BIGINT) % 5 = 2
       |       UNION ALL
       |       SELECT key, name, '' AS value,
       |         write_time + $HourUs AS write_time, 1 AS gen
       |       FROM live0 WHERE CAST(key AS BIGINT) % 5 = 4),
       |u AS (SELECT key, name, value, write_time, 0 AS gen FROM live0
       |      UNION ALL SELECT * FROM g1),
       |r AS (SELECT key, name, value, write_time,
       |        row_number() OVER (PARTITION BY key, name
       |          ORDER BY write_time DESC, gen DESC) AS rn
       |      FROM u)
       |SELECT key, name, value, write_time
       |FROM r WHERE rn = 1 AND value <> ''""".stripMargin

  val oracle: Map[String, String] = Map(
    // q223: the nest replayed from raw rows — hash equality across the
    // sliced read proves frame slices partition rows exactly
    "q223_sliced_read" ->
      (s"SELECT key, CAST(count(*) AS BIGINT) AS n_cells " +
        s"FROM (${Core.liveCellsSql}) GROUP BY key"),
    // replay the evolution null-fill: gen-1 rows (even ids) predate
    // (source, n_chars); the partition column is the generation id
    // both layouts hold the same rows; the layout only changes HOW the
    // engine reads them, never what they contain
    "q111_partition_evolution" ->
      ("""SELECT source, count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |FROM documents WHERE lang = 'en'
         |GROUP BY source""".stripMargin),
    "q109_schema_evolution" ->
      ("""SELECT doc_id, lang,
         |  CASE WHEN doc_id % 2 = 1 THEN source END AS source,
         |  CASE WHEN doc_id % 2 = 1 THEN n_chars END AS n_chars,
         |  CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END AS INTEGER) AS gen
         |FROM documents""".stripMargin),
    // the sort-free rewrite is lossless: same oracle as q30/q37/q48
    "q89_ordered_reexport" -> Core.liveCellsSql,
    // the overlay generation replayed from the raw cells, classified
    // against the base cell it rewrites ((key, name) is unique in the
    // live base — cell names embed the event id)
    "q81_change_feed" ->
      (s"""WITH live0 AS (SELECT key, name, value, write_time
         |  FROM (${Core.cellsSql})
         |  WHERE kind = 'live' AND NOT partition_deleted),
         |g1 AS (SELECT key, name, value || '@2' AS value,
         |         write_time + $HourUs AS write_time
         |       FROM live0 WHERE CAST(key AS BIGINT) % 5 = 2
         |       UNION ALL
         |       SELECT key, name, '' AS value,
         |         write_time + $HourUs AS write_time
         |       FROM live0 WHERE CAST(key AS BIGINT) % 5 = 4)
         |SELECT g1.key, g1.name,
         |       CASE WHEN o.value IS NULL THEN 'insert'
         |            WHEN g1.value = '' THEN 'delete'
         |            ELSE 'update' END AS change_type,
         |       o.value AS old_value, g1.value AS new_value, g1.write_time
         |FROM g1 LEFT JOIN live0 o ON g1.key = o.key AND g1.name = o.name""".stripMargin),
    // the q61 merge replay with the as-of visibility cut: only cells
    // written at or before AsOfUs participate in newest-wins
    "q80_asof_read" ->
      (s"""WITH live0 AS (SELECT key, name, value, write_time
         |  FROM (${Core.cellsSql})
         |  WHERE kind = 'live' AND NOT partition_deleted),
         |g1 AS (SELECT key, name, value || '@2' AS value,
         |         write_time + $HourUs AS write_time, 1 AS gen
         |       FROM live0 WHERE CAST(key AS BIGINT) % 5 = 2
         |       UNION ALL
         |       SELECT key, name, '' AS value,
         |         write_time + $HourUs AS write_time, 1 AS gen
         |       FROM live0 WHERE CAST(key AS BIGINT) % 5 = 4),
         |u AS (SELECT key, name, value, write_time, 0 AS gen FROM live0
         |      UNION ALL SELECT * FROM g1),
         |v AS (SELECT * FROM u WHERE write_time <= $AsOfUs),
         |r AS (SELECT key, name, value, write_time,
         |        row_number() OVER (PARTITION BY key, name
         |          ORDER BY write_time DESC, gen DESC) AS rn
         |      FROM v)
         |SELECT key, name, value, write_time
         |FROM r WHERE rn = 1 AND value <> ''""".stripMargin),
    "q29_sink_roundtrip" ->
      (s"SELECT count(DISTINCT CASE WHEN NOT partition_deleted THEN key END) AS n_rows, " +
        "CAST(sum(CASE WHEN kind = 'live' AND NOT partition_deleted THEN 1 ELSE 0 END) AS BIGINT) AS n_columns " +
        s"FROM (${Core.cellsSql})"),
    "q30_proto_source" -> Core.liveCellsSql,
    "q36_noshuffle_stats" ->
      (s"SELECT key, count(CASE WHEN kind = 'live' THEN 1 END) AS n_cells, " +
        "min(CASE WHEN kind = 'live' THEN name END) AS first_name, " +
        "max(CASE WHEN kind = 'live' THEN name END) AS last_name " +
        s"FROM (${Core.cellsSql}) WHERE NOT partition_deleted GROUP BY key"),
    // ASCII keys: DuckDB's codepoint string order == the source's
    // unsigned byte order, so the same range selects the same keys
    "q46_key_pushdown" ->
      (s"SELECT DISTINCT key FROM (${Core.cellsSql}) " +
        "WHERE NOT partition_deleted AND key >= '200' AND key < '300'"),
    // same ASCII-key range-order equivalence as q46; n_cells counts the
    // live cells the nest packed per key (0 for empty-partition Rows)
    "q60_file_skip" ->
      (s"SELECT key, count(CASE WHEN kind = 'live' THEN 1 END) AS n_cells " +
        s"FROM (${Core.cellsSql}) " +
        "WHERE NOT partition_deleted AND key >= '200' AND key < '300' " +
        "GROUP BY key"),
    "q61_compact_sink" -> compactSql,
    // gen0 holds every non-tombstoned key's live cells (empty-partition
    // Rows included → 0-cell groups); value_bytes over live cells only
    "q62_bucketed_stats" ->
      (s"SELECT key, count(CASE WHEN kind = 'live' THEN 1 END) AS n_cells, " +
        "CAST(coalesce(sum(CASE WHEN kind = 'live' THEN length(value) END), 0) AS BIGINT) AS value_bytes " +
        s"FROM (${Core.cellsSql}) WHERE NOT partition_deleted GROUP BY key"),
    // the nest wrote one Row per non-deleted key; ASCII keys make
    // DuckDB's string min/max == the sidecars' unsigned-byte bounds
    "q64_sidecar_stats" ->
      (s"SELECT count(DISTINCT CASE WHEN NOT partition_deleted THEN key END) AS n_rows, " +
        "min(CASE WHEN NOT partition_deleted THEN key END) AS min_key, " +
        "max(CASE WHEN NOT partition_deleted THEN key END) AS max_key " +
        s"FROM (${Core.cellsSql})"),
    // the nest packed one Row per non-deleted key (live cells only), so
    // n_cells = live-cell count per key; the dim predicate replays as-is
    "q65_runtime_prune" ->
      (s"SELECT key, c.c_name AS c_name, " +
        "count(CASE WHEN kind = 'live' THEN 1 END) AS n_cells " +
        s"FROM (${Core.cellsSql}) cells " +
        "JOIN customer c ON cells.key = CAST(c.c_custkey AS VARCHAR) " +
        "WHERE NOT partition_deleted AND c.c_custkey BETWEEN 12 AND 13 " +
        "GROUP BY key, c.c_name"),
    // the point-get returns every document sharing the probe key's
    // content hash (exact dups collide by design); value/write_time
    // replay from the raw table
    "q230_bloom_get" ->
      ("SELECT md5(text) AS k, CAST(doc_id AS VARCHAR) AS doc, " +
        "doc_id AS t FROM documents " +
        "WHERE md5(text) = (SELECT md5(text) FROM documents " +
        "WHERE doc_id = (SELECT min(doc_id) FROM documents))"),
    // the three probe picks replayed in SQL over the same nested table
    "q239_frame_seek" ->
      (s"""WITH t AS (SELECT key,
         |  count(CASE WHEN kind = 'live' THEN 1 END) AS n_cells
         |  FROM (${Core.cellsSql})
         |  WHERE NOT partition_deleted GROUP BY key)
         |SELECT key, n_cells FROM t
         |WHERE key = (SELECT min(key) FROM t)
         |   OR key = (SELECT max(key) FROM t)
         |   OR key = (SELECT min(key) FROM t WHERE key >= '5')""".stripMargin),
    // file == bucket by construction (one single-partition write per
    // bucket), so per-file metrics rebuild from per-key wire sizes
    "q47_per_file_metrics" ->
      (s"""WITH enc AS (${Core.encodeProtoSql}),
         |liv AS (SELECT key, count(CASE WHEN kind = 'live' THEN 1 END) nc
         |        FROM (${Core.cellsSql})
         |        WHERE NOT partition_deleted GROUP BY key)
         |SELECT CAST(enc.key AS BIGINT) % 4 AS bucket,
         |       count(*) AS n_rows,
         |       CAST(sum(liv.nc) AS BIGINT) AS n_columns,
         |       CAST(sum(enc.framed_len) AS BIGINT) AS wire_bytes
         |FROM enc JOIN liv ON liv.key = enc.key
         |GROUP BY 1""".stripMargin))
}
