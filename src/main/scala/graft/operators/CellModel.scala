package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** The reference's data model — Cassandra COMPACT STORAGE wide rows:
  * `partition(key: blob) → sorted cells (name: blob, value: blob,
  * writeTime: µs long)` with partition- and cell-level tombstones
  * (SURVEY.md §1; `service/SSTableReader.java:24-43,79-107`) — projected
  * deterministically onto the driver's `events` table (FIXTURES.md §B
  * mapping: `user_id` ≙ partition key, `event_id`/`event_type` ≙ cell
  * name, `props` ≙ cell value, `ts` ≙ writeTime).
  *
  * Cell kinds mirror the O8 filter taxonomy
  * (`service/SSTableReader.java:92-103`):
  *   error → deleted cell, signup → expiring (TTL) cell,
  *   view → counter cell, click/purchase → live.
  * Partition tombstone (O7, `:79`): user_id % 50 == 0.
  *
  * Two views: `cellStrings` (string-typed, the oracle-facing working
  * representation) and `cells` (binary-typed, the faithful blob model
  * feeding the proto encode). `events.ts` arrives as epoch-nanoseconds
  * long (see [[graft.sources.Tables]]); writeTime is `ts DIV 1000` µs.
  *
  * Scale note: the cell projection is narrow (no shuffle); the only wide
  * stage in the whole pipeline is the per-key nest (O10). It folds each
  * run of adjacent same-key cells map-side, then merges runs after ONE
  * hash exchange on `key` that moves nested rows, not cells, and sorts
  * them by key ([[SortedNest]]). A child that is already key-clustered
  * and key-sorted (a key-ordered source) plans no exchange and no sort.
  */
object CellModel {

  /** Zero-pad event_id so lexicographic order == numeric order —
    * the cell comparator the reference inherits from storage (O16).
    */
  private val cellName: Column =
    concat(lpad(col("event_id").cast("string"), 12, "0"),
      lit(":"), col("event_type"))

  /** String-typed flat cells: key, name, value, write_time, kind,
    * partition_deleted. Oracle-comparable working representation.
    * Pure projection — works on batch AND streaming `events` frames.
    */
  def cellStringsOf(events: DataFrame): DataFrame =
    events.select(
      col("user_id").cast("string").as("key"),
      cellName.as("name"),
      // a Cassandra cell VALUE is a blob that may be empty but never
      // absent — and a null here would diverge between Spark's
      // null-skipping concat_ws and DuckDB's null-propagating `||`
      coalesce(col("props"), lit("")).as("value"),
      expr("ts DIV 1000").as("write_time"),
      when(col("event_type") === "error", "deleted")
        .when(col("event_type") === "signup", "expiring")
        .when(col("event_type") === "view", "counter")
        .otherwise("live").as("kind"),
      (col("user_id") % 50 === 0).as("partition_deleted"))

  def cellStrings(spark: SparkSession, dir: String): DataFrame =
    cellStringsOf(Tables.events(spark, dir))

  /** O7 + O8: drop tombstoned partitions, keep only live cells. */
  def liveCellStrings(spark: SparkSession, dir: String): DataFrame =
    cellStrings(spark, dir)
      .filter(!col("partition_deleted") && col("kind") === "live")
      .drop("kind", "partition_deleted")

  /** Binary flat cells — the faithful blob/blob/blob model (§1.4). */
  def cellsOf(cellStringsDf: DataFrame): DataFrame =
    cellStringsDf.select(
      encode(col("key"), "UTF-8").as("key"),
      encode(col("name"), "UTF-8").as("name"),
      encode(col("value"), "UTF-8").as("value"),
      col("write_time"), col("kind"), col("partition_deleted"))

  def cells(spark: SparkSession, dir: String): DataFrame =
    cellsOf(cellStrings(spark, dir))

  def liveCells(spark: SparkSession, dir: String): DataFrame =
    liveNestInput(spark, dir).drop("kind", "partition_deleted")

  /** The live cells of the binary model as [[nestCells]] input — `kind`
    * and `partition_deleted` kept — so a nest of any subset of them
    * yields no key-only row for a key without live cells.
    */
  def liveNestInput(spark: SparkSession, dir: String): DataFrame =
    cells(spark, dir).filter(!col("partition_deleted") && col("kind") === "live")

  /** O10: per-key ordered nest — the signature aggregation of the
    * reference (`rowMapper`, `service/SSTableReader.java:87-109`): one
    * row per key with its live cells in comparator order (name, value,
    * write_time). Planned as [[SortedNest]]'s run fold → one exchange on
    * `key` → run merge, which folds cells the way the reference's
    * scanner does instead of regrouping them.
    *
    * Matches the reference exactly for partitions with zero live cells:
    * `rowMapper` runs after only the partition-tombstone filter
    * (`service/SSTableReader.java:79-80`), so a live partition whose
    * cells are all deleted/expiring/counter still yields a key-only
    * `Row` with an empty `columns` list. Every non-tombstoned cell
    * therefore reaches the fold, and `live` decides whether it joins
    * its row's cells (a null kind is not live).
    */
  def nestCells(cellsDf: DataFrame): DataFrame =
    SortedNest(cellsDf
      .filter(!col("partition_deleted"))
      .select(col("key"), col("name"), col("value"), col("write_time"),
        coalesce(col("kind") === "live", lit(false)).as("live")))

  def nestRows(spark: SparkSession, dir: String): DataFrame =
    nestCells(cells(spark, dir))

  /** Mega-partition guard for the nest: cells are chunked into bounded
    * Rows of at most [[NestChunk]] cells per (key, chunk) — the size-cap
    * variant of O10 for keys whose partitions outgrow one task's memory
    * (the reference's one unbounded spot,
    * `service/SSTableReader.java:104-105`). The chunk id comes from a
    * sort-based window (spillable), so no stage ever holds an unbounded
    * partition in an aggregation buffer.
    */
  val NestChunk = 16

  def nestRowsChunked(spark: SparkSession, dir: String): DataFrame =
    liveCellStrings(spark, dir)
      .withColumn("chunk", expr(s"(row_number() OVER (PARTITION BY key " +
        s"ORDER BY name, value, write_time) - 1) DIV $NestChunk"))
      .groupBy(col("key"), col("chunk"))
      .agg(count(lit(1)).as("n_cells"),
        min(col("name")).as("first_name"),
        max(col("name")).as("last_name"))

  /** The read-back of nested (key, columns) rows: one row per cell,
    * with key, name and value decoded from UTF-8 — the shape the
    * oracle compares every sink round trip in.
    */
  def flatCells(nested: DataFrame): DataFrame =
    nested.select(col("key"), explode(col("columns")).as("c"))
      .select(decode(col("key"), "UTF-8").as("key"),
        decode(col("c.name"), "UTF-8").as("name"),
        decode(col("c.value"), "UTF-8").as("value"),
        col("c.write_time").as("write_time"))

  /** Inverse of nestRows (flatten) — validates the round trip. */
  def explodeCells(spark: SparkSession, dir: String): DataFrame =
    nestRows(spark, dir)
      .select(col("key"), explode(col("columns")).as("c"))
      .select(col("key"), col("c.name").as("name"),
        col("c.value").as("value"), col("c.write_time").as("write_time"))

  /** O11: nest + proto3-encode each partition (unframed + framed). */
  def encodeProto(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.ProtoWire._
    nestRows(spark, dir)
      .select(col("key"), proto_row(col("key"), col("columns")).as("proto"))
      .select(col("key"), col("proto"),
        proto_delimited(col("proto")).as("framed"))
  }
}
