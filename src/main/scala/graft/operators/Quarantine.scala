package graft.operators

import com.github.luben.zstd.ZstdInputStream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.ProtoWire
import graft.sources.{GenManifest, ProtoZstFiles}

/** CORRUPT-FILE QUARANTINE — the reference's `markSuspect` read path
  * (`SSTableReaderPatched.java:248-253`: a file the reader cannot
  * parse is flagged suspect and the scan keeps serving everything
  * else) as a first-class SALVAGE SCAN:
  *
  *   - STRICT mode is the normal scan and stays the default: a
  *     corrupt data file fails the read loudly (the bounded validated
  *     decoder throws; no silent row loss, ever).
  *   - [[salvageVerdicts]] is the operations answer when bytes have
  *     already rotted: one task per data file, each decoding with the
  *     same validated kernel but reporting instead of throwing —
  *     (file, rows decoded from complete frames, columns, byte offset
  *     where good data ends, suspect flag). Complete frames BEFORE
  *     the first bad byte still count (a truncated file salvages its
  *     prefix); a file whose zstd stream or wire framing is garbage
  *     from byte 0 reports zero rows, suspect.
  *
  * q251 reads the salvage verdicts of a deliberately-corrupted
  * generation at KEY-PREFIX grain: the fixture writes the corpus
  * prefix-split (one file per leading key byte — content-keyed, so
  * the oracle knows exactly which rows each file holds), then
  * overwrites the `'3'`-prefix file with non-zstd garbage IN PLACE,
  * manifest untouched — the bitrot/partial-overwrite model, exactly
  * the state `markSuspect` exists for. The DuckDB oracle rebuilds
  * every healthy prefix's counts from the raw tables and pins the
  * suspect prefix to (0 rows, suspect=1): hash equality proves both
  * halves — nothing lost from healthy files, nothing invented from
  * the rotten one. Byte offsets are pinned by QuarantineSpec (they
  * are physical facts no SQL oracle can replay), as is the
  * partial-salvage truncation case and strict mode's loud refusal.
  *
  * Scale: the verdict scan is one task per file (file list from the
  * manifest — metadata, no data read at plan time), each decoding
  * only its own file once; output is file-grain (KBs per 100 TB).
  * `mapPartitions` is the right shape here for the same reason as the
  * multimodal batch decode: the unit of work is an opaque byte
  * stream, not a row.
  */
object Quarantine {

  /** Decode as much of one file as parses: (rows, cols, offset in the
    * DECODED stream after the last complete frame, suspect). Never
    * throws on corrupt bytes — zstd-level damage surfaces as the
    * decompressor throwing mid-walk, wire-level damage stops the
    * frame walk; either way complete frames before the first bad byte
    * count ([[ProtoWire.salvageStatsStream]]). Memory is bounded by
    * ONE frame, never the decoded file: the oversized legacy files
    * salvage exists to rescue are exactly the ones a
    * drain-to-heap-array walk would OOM on.
    */
  private[graft] def salvageFile(
      in: java.io.InputStream): (Long, Long, Long, Boolean) = {
    val (rows, cols, lastGood, clean) =
      try ProtoWire.salvageStatsStream(new ZstdInputStream(in))
      catch { // garbage so early the decompressor refuses to even open
        case _: Exception => (0L, 0L, 0L, false)
      }
    (rows, cols, lastGood, !clean)
  }

  /** The salvage task list: one (name, attested, slice idx, start,
    * end) per unit of work. Files at or under `sliceBytes` (and files
    * without a usable `.split` sidecar) get ONE whole-file task
    * (end = −1); oversized files fan into frame-aligned byte-range
    * slices cut exactly like the scan's parallel read
    * (`ProtoZstScan.sliced` — sidecar offsets accumulated to
    * ~`sliceBytes` ranges). Sidecar reads happen at PLAN time on the
    * driver, the same metadata-read budget the normal scan spends:
    * salvage must never hand one task (and one decode) a multi-GB
    * legacy file — those are exactly the files it exists to rescue.
    */
  private[graft] def salvageTasks(out: String, snap: GenManifest.Snapshot,
      sliceBytes: Long): Seq[(String, Long, Int, Long, Long)] = {
    val conf = ProtoZstFiles.hadoopConf()
    snap.dataEntries.flatMap { e =>
      val slices: Seq[(Long, Long)] =
        if (e.bytes <= sliceBytes) Seq((0L, -1L))
        else {
          val p = new org.apache.hadoop.fs.Path(out, e.name)
          val cuts = graft.sources.SplitSidecar
            .read(p.getFileSystem(conf), p)
            .map(_.map(_._1).filter(o => o > 0 && o < e.bytes))
            .getOrElse(Array.empty[Long])
          if (cuts.isEmpty) Seq((0L, -1L))
          else {
            val acc = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
            var start = 0L
            cuts.foreach { c =>
              if (c - start >= sliceBytes) { acc += ((start, c)); start = c }
            }
            // the FINAL slice is unbounded (end = −1): it reads to
            // physical EOF, not to the manifest's attested e.bytes, so
            // bytes APPENDED past the attested length decode (and rot)
            // exactly as the whole-file walk sees them — the verdict
            // must not depend on which path the planner picked
            acc += ((start, -1L))
            if (acc.length == 1) Seq((0L, -1L)) else acc.toSeq
          }
        }
      slices.zipWithIndex.map { case ((s, en), i) => (e.name, e.count, i, s, en) }
    }
  }

  /** File-grain salvage verdicts for a manifested generation: one row
    * per data file — (name, rows, cells, good_bytes, suspect).
    * Distributed one-task-per-file, EXCEPT files above `sliceBytes`
    * with a `.split` sidecar, which fan into per-slice tasks
    * ([[salvageTasks]]) and merge back to file grain with the
    * whole-file walk's first-bad-byte semantics: slices strictly
    * before the first broken one count fully, the broken slice
    * contributes its own salvaged complete-frame prefix, everything
    * after is not counted — bit-identical to a single-task walk of
    * the same bytes, proven by QuarantineSpec's slice-vs-whole cross
    * check. The driver touches only the manifest + oversized files'
    * split sidecars (metadata); the file-grain merge is a window +
    * aggregation over a file-count-sized frame (KBs per 100 TB).
    */
  def salvageVerdicts(spark: SparkSession, out: String,
      sliceBytes: Long = graft.sources.ProtoZstScan.DefaultSplitFileBytes)
      : DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val snap = GenManifest.read(out, ProtoZstFiles.hadoopConf()).getOrElse(
      throw new IllegalStateException(
        s"salvage requires a manifested directory: $out"))
    val tasks = salvageTasks(out, snap, sliceBytes)
    val sliced = spark.createDataset(tasks)
      .repartition(math.max(tasks.length, 1))
      .mapPartitions { it =>
        val conf = ProtoZstFiles.hadoopConf()
        it.map { case (name, attested, idx, start, end) =>
          // salvage NEVER throws: a file that cannot even be opened or
          // seeked (vanished bytes, a file shrunk past its sidecar's
          // recorded offsets — exactly the damage salvage exists for)
          // is a maximally-suspect verdict, not a task failure
          val (rows, cells, good, broken) =
            try {
              val p = new org.apache.hadoop.fs.Path(out, name)
              val fs = p.getFileSystem(conf)
              val st = fs.open(p)
              try {
                if (start > 0L) st.seek(start)
                val in: java.io.InputStream =
                  if (end < 0L) st // tail slice / whole file: to real EOF
                  else new graft.sources.BoundedIn(st, end - start)
                salvageFile(in)
              } finally st.close()
            } catch { case _: Exception => (0L, 0L, 0L, true) }
          (name, attested, idx, rows, cells, good, broken)
        }
      }
      .toDF("name", "attested", "idx", "rows", "cells", "good", "broken")
    val byFile = Window.partitionBy(col("name"))
    sliced
      .withColumn("first_bad",
        min(when(col("broken"), col("idx"))).over(byFile))
      // the whole-file walk stops at the first bad byte: slices past
      // the first broken one must not count, the broken one counts
      // its own salvaged prefix
      .filter(col("first_bad").isNull || col("idx") <= col("first_bad"))
      .groupBy(col("name"), col("attested"))
      .agg(sum(col("rows")).as("n_rows"), sum(col("cells")).as("n_cells"),
        sum(col("good")).as("good_bytes"),
        max(col("broken").cast("int")).as("any_broken"))
      // a frame-ALIGNED truncation decodes cleanly and short — only
      // the manifest's attested row count can see it (the strict
      // reader's truncation guard, verdict form)
      .select(col("name"), col("n_rows"), col("n_cells"), col("good_bytes"),
        (col("any_broken") === 1 ||
          (col("attested") >= 0 && col("n_rows") =!= col("attested")))
          .as("suspect"))
  }

  /** The corrupted prefix: every key starting with this byte lives in
    * the file the fixture rots — present at every test sf (sf0.001's
    * key domain is "1".."14", so '1'..'9' all occur as first bytes).
    */
  private val RotPrefix = "3"

  /** q251 fixture: the corpus written PREFIX-SPLIT (one file per
    * leading key byte, content-keyed so file membership is a pure
    * function of the data), then the [[RotPrefix]] file overwritten
    * with non-zstd garbage in place — manifest, sidecars and every
    * other file untouched.
    */
  private val quarantineFixture = SessionFixture("quarantine") {
    (spark, dir) =>
      val out = Scratch.dir("graft_quar")
      CellModel.nestRows(spark, dir).repartition(1)
        .write.format("proto-zst").option("splitKeyPrefix", "1")
        .mode("append").save(out)
      val conf = ProtoZstFiles.hadoopConf()
      val dirPath = new org.apache.hadoop.fs.Path(out)
      val fs = dirPath.getFileSystem(conf)
      val tag = "-k" + RotPrefix.getBytes("UTF-8")
        .map(b => f"${b & 0xff}%02x").mkString
      val victim = GenManifest.read(out, conf).get.dataEntries
        .map(_.name).find(_.contains(tag)).getOrElse(
          sys.error(s"quarantine fixture found no '$RotPrefix'-prefix file"))
      val os = fs.create(new org.apache.hadoop.fs.Path(dirPath, victim), true)
      try os.write(
        ("ROT " * 64).getBytes("UTF-8")) // not a zstd frame header
      finally os.close()
      out
  }

  /** Spec hook: the (cached) corrupted-generation directory. */
  private[graft] def fixtureDir(spark: SparkSession, dir: String): String =
    quarantineFixture(spark, dir)

  /** q251: SALVAGE READ over the corrupted generation, aggregated to
    * key-prefix grain (the content key the fixture split files by, so
    * the oracle replays file membership from the raw tables): every
    * healthy prefix's decoded rows/cells must equal the corpus's, the
    * rotten prefix must report exactly (0, 0, suspect=1).
    */
  def salvageRead(spark: SparkSession, dir: String): DataFrame = {
    val out = quarantineFixture(spark, dir)
    salvageVerdicts(spark, out)
      // file name → its content prefix: the "-k<hex>" group tag the
      // prefix-split writer stamps (one file per prefix by fixture
      // construction: a single write task, splitPrefix = 1 byte)
      .withColumn("prefix", decode(unhex(
        regexp_extract(col("name"), "-k([0-9a-f]+)\\.proto\\.zst$", 1)),
        "UTF-8"))
      .groupBy(col("prefix"))
      .agg(sum(col("n_rows")).as("n_rows"),
        sum(col("n_cells")).as("n_cells"),
        max(col("suspect").cast("int")).as("suspect"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q251_salvage_scan" -> salvageRead)

  // the healthy prefixes rebuild from the raw tables (the q237
  // erased-table frame at prefix grain); the rotten one pins to
  // (0, 0, suspect) — nothing lost, nothing invented
  private val salvageSql =
    s"SELECT substr(key, 1, 1) AS prefix, " +
      s"CAST(CASE WHEN substr(key, 1, 1) = '$RotPrefix' THEN 0 " +
      s"ELSE count(*) END AS BIGINT) AS n_rows, " +
      s"CAST(CASE WHEN substr(key, 1, 1) = '$RotPrefix' THEN 0 " +
      s"ELSE CAST(sum(n_cells) AS BIGINT) END AS BIGINT) AS n_cells, " +
      s"CAST(substr(key, 1, 1) = '$RotPrefix' AS INTEGER) AS suspect " +
      s"FROM (SELECT key, count(CASE WHEN kind = 'live' THEN 1 END) AS n_cells " +
      s"FROM (${Core.cellsSql}) WHERE NOT partition_deleted GROUP BY key) " +
      "GROUP BY 1"

  val oracle: Map[String, String] = Map(
    "q251_salvage_scan" -> salvageSql)
}
