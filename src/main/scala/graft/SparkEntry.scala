package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates every operator module's query map; `oracleSql`
  * carries the DuckDB-equivalent SQL for each SQL-expressible query
  * (queries absent from `oracleSql` get a rows-only check).
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's whole pipeline in one plan: scan → liveness filters
    * → per-key ordered nest → proto3 encode + varint framing.
    */
  def entry(spark: SparkSession): DataFrame =
    Core.encodeProto(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2 plus the
    * LLM-data-pipeline extensions (dedup, similarity search, text
    * analysis, event windows). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Core.queries ++ Relational.queries ++ Dedup.queries ++
      DedupClusters.queries ++ Decontam.queries ++ Sketches.queries ++
      Retrieval.queries ++ VectorOps.queries ++ AnnPq.queries ++
      Tokenizer.queries ++ Quality.queries ++
      TextAnalysis.queries ++ SimSearch.queries ++ Events.queries ++
      Multimodal.queries ++ Streaming.queries ++ Sink.queries ++
      SinkMaintain.queries ++ Releases.queries ++ StreamCurate.queries ++
      Curation.queries ++ Compaction.queries ++ Layout.queries ++
      Tombstones.queries ++ Classifier.queries ++ Quarantine.queries

  /** Every shared session fixture Bench times, in dependency order
    * (the q15 pair set before the cluster closure built over it), each
    * printed as a `fixture:<name>` row: each cold build then times
    * only its own increment. Building every fixture BEFORE the query
    * sweep is required for bench correctness, not just accounting —
    * Bench unpersists private checkpoint blocks after each timed
    * query, and a shared fixture built lazily during one looks private
    * (its blocks would be dropped under every later consumer).
    */
  def fixtureBuilds: Seq[SessionFixture[_]] = Seq(
    Sink.nestedFixture, Sink.rangedFixture, Sink.bucketedGens,
    SinkMaintain.optimizedFixture, Sink.reexportFixture,
    SinkMaintain.vacuumedFixture, Sink.evolvedFixture, Sink.layoutFixture,
    Releases.exportFixture, Core.indexFixture,
    SimSearch.kmCentroids, AnnPq.pqBookFixture,
    AnnPq.ivfPqBooks, // builds the NCells (k=16) centroids too
    Relational.bucketedFixture, Relational.coPurchaseFixture,
    Dedup.minhashPairsCached, DedupClusters.dupClustersCached,
    Quality.ccnetBucketsCached, Quality.evalSlateCached,
    Quality.ngramTablesCached, Retrieval.hybridRrfCached,
    Classifier.trainedWeightsCached,
    StreamCurate.boilerInventoryCached, StreamCurate.mixtureRatesCached)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Core.oracle ++ Relational.oracle ++ Dedup.oracle ++
      DedupClusters.oracle ++ Decontam.oracle ++ Sketches.oracle ++
      Retrieval.oracle ++ VectorOps.oracle ++ AnnPq.oracle ++
      Tokenizer.oracle ++ Quality.oracle ++
      TextAnalysis.oracle ++ SimSearch.oracle ++ Events.oracle ++
      Multimodal.oracle ++ Streaming.oracle ++ Sink.oracle ++
      SinkMaintain.oracle ++ Releases.oracle ++ StreamCurate.oracle ++
      Curation.oracle ++ Compaction.oracle ++ Layout.oracle ++
      Tombstones.oracle ++ Classifier.oracle ++ Quarantine.oracle
}
