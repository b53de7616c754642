package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout,
  OutputMode, StreamingQuery, Trigger}

import graft.sources.Tables

/** Streaming-sessionization row/state/output records (top-level so the
  * product encoders resolve). Times are epoch-µs longs.
  */
case class SessEvent(user_id: Long, event_id: Long, us: Long,
  event_time: java.sql.Timestamp)
case class OpenSession(sessNo: Long, startUs: Long, endUs: Long, n: Long)
case class SessionOut(user_id: Long, session_no: Long, n_events: Long,
  start_us: Long, end_us: Long, duration_us: Long)

/** Streaming-funnel state/output records (top-level for encoders). */
case class FunnelState(t1: Option[Long], t2: Option[Long], t3: Option[Long])
case class FunnelOut(user_id: Long, view_us: Option[Long],
  click_us: Option[Long], purchase_us: Option[Long], funnel_depth: Int)

/** q98 records: per-user online feature accumulator and its emitted
  * row (top-level for encoders).
  */
object Streaming extends Serializable {

  /** State-store partitions of the stateful stream queries (q208 keeps
    * its own measured 4). Stateful streaming cost on small/medium state
    * is dominated by per-partition state store instances (delta file +
    * commit PER partition PER batch) — 8 partitions cuts that fixed
    * cost 4× vs the session's 32. On a real cluster with large state
    * this knob goes the other way; it is per-query here precisely
    * because state size is query-specific.
    */
  private[graft] val StatePartitions = 8

  /** The one stream runner: start the writer `query` builds with
    * `Trigger.AvailableNow`, wait until it has drained its source, and
    * return the finished query (its `recentProgress` holds each
    * batch's durations and state-operator counters). `statePartitions`
    * sets `spark.sql.shuffle.partitions`, which fixes a stateful
    * query's state layout; `rocksDb` sets the RocksDB state-store
    * provider (the transformWithState engine requirement). Both are
    * restored when the query ends or fails, and `query` is built inside
    * that scope. NOTE: the scope is the SESSION-wide conf — fine while
    * queries run sequentially (every harness here does), but a
    * concurrent streaming query started on this session would silently
    * inherit it and race the restore; an embedding that runs queries
    * concurrently should drain on a dedicated spark.newSession().
    */
  private[graft] def drain(spark: SparkSession,
      statePartitions: Option[Int] = None, rocksDb: Boolean = false)(
      query: => DataStreamWriter[_]): StreamingQuery = {
    val scoped = statePartitions.toSeq.map("spark.sql.shuffle.partitions" -> _.toString) ++
      Option.when(rocksDb)("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val prev = scoped.map { case (k, _) => k -> spark.conf.getOption(k) }
    scoped.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val q = query.trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** [[drain]] `result` into a memory sink in `outputMode`, under a
    * query name of its own derived from `label`, and read the sink back.
    */
  private[graft] def drainToMemory(spark: SparkSession, label: String,
      outputMode: String, statePartitions: Option[Int] = None,
      rocksDb: Boolean = false)(result: => Dataset[_]): DataFrame = {
    val name = s"${label}_sink_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    drain(spark, statePartitions, rocksDb) {
      result.writeStream.format("memory").queryName(name).outputMode(outputMode)
    }
    spark.table(name)
  }

  /** q28: streaming twin of [[Events.windowAgg]]. */
  def streamWindowAgg(spark: SparkSession, dir: String): DataFrame = {
    // Tables.eventsStream resolves the on-disk schema via the batch
    // reader and normalizes ts to nano longs (see Tables scaladoc)
    // the file-stream source wants a directory: stream the testdata dir
    // with a glob filter selecting the events table
    val src = Tables.eventsStream(spark, dir)
    val agg = src
      .select(col("user_id"), col("event_type"),
        expr("ts DIV 1000").as("us"),
        round(col("value") * 100, 0).cast("long").as("vc"))
      .withColumn("event_time", timestamp_micros(col("us")))
      .withWatermark("event_time", "1 day")
      .withColumn("day_bucket", expr("us DIV 86400000000"))
      .groupBy(col("day_bucket"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        size(collect_set(col("user_id"))).as("n_users"),
        (sum(col("vc")).cast("double") / 100.0).as("sum_value"))
    drainToMemory(spark, "q28", "complete", Some(StatePartitions))(agg)
  }

  private val SessionGapUs = 43200000000L // 12 h, matches Events.sessionize

  /** q31: streaming sessionization with CUSTOM STATE —
    * `flatMapGroupsWithState` keyed by user, event-time timeout.
    *
    * Per micro-batch each user's new events are folded into the open
    * session carried in [[GroupState]]; a >12 h gap closes the session
    * and emits it immediately. The open tail session stays in state
    * with timeout = (end + gap); when the watermark passes that point
    * (here: the AvailableNow final batch) the group times out and the
    * session is emitted. At scale this is the canonical bounded-state
    * shape: state per user is ONE open session regardless of history
    * length, and eviction is watermark-driven.
    *
    * The DuckDB oracle is the batch sessionization restricted to
    * sessions the watermark can have closed — exactly: every session
    * but the user's last, plus last sessions whose timeout (ms
    * granularity, as the state store tracks it) precedes the corpus
    * max event time.
    */
  def streamSessionize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val src = Tables.eventsStream(spark, dir)
    val evs = src
      .select(col("user_id"), col("event_id"), expr("ts DIV 1000").as("us"),
        timestamp_micros(expr("ts DIV 1000")).as("event_time"))
      // keep the watermarked column through to the stateful operator —
      // EventTimeTimeout requires it on the input
      .withWatermark("event_time", "0 seconds").as[SessEvent]

    def fold(userId: Long, events: Iterator[SessEvent],
        state: GroupState[OpenSession]): Iterator[SessionOut] = {
      def out(s: OpenSession) = SessionOut(userId, s.sessNo, s.n,
        s.startUs, s.endUs, s.endUs - s.startUs)
      if (state.hasTimedOut) {
        val s = state.get
        // keep a CLOSED marker (startUs = -1) carrying the session
        // counter instead of removing state: removal would restart
        // session_no at 1 when the user returns in a later batch,
        // emitting a second distinct session under an already-used
        // (user_id, session_no) key. The marker is three longs per
        // ever-seen user (q98's boundedness — production adds a TTL);
        // it registers no timeout, so it never re-fires.
        state.update(OpenSession(s.sessNo, -1L, -1L, 0))
        Iterator.single(out(s))
      } else {
        // batch arrival order is unordered within the micro-batch;
        // per-user sort is the same bounded work the batch window does
        val sorted = events.toSeq.sortBy(e => (e.us, e.event_id))
        val prior = state.getOption
        var open = prior.filter(_.startUs >= 0).orNull
        // sessions already numbered for this user (0 unless a closed
        // marker is present)
        val closedCount = prior.filter(_.startUs < 0).map(_.sessNo)
          .getOrElse(0L)
        val closed = Seq.newBuilder[SessionOut]
        sorted.foreach { e =>
          if (open == null) open = OpenSession(closedCount + 1, e.us, e.us, 1)
          else if (e.us - open.endUs > SessionGapUs) {
            closed += out(open)
            open = OpenSession(open.sessNo + 1, e.us, e.us, 1)
          } else open = open.copy(
            // max() guards CROSS-batch late events (in-batch order is
            // sorted above, but flatMapGroupsWithState still hands the
            // fold rows behind the watermark from later batches): a
            // late event may join the open session, but must never
            // move its end backwards — a regressed endUs corrupts
            // duration and makes the next gap test open a spurious
            // session
            endUs = math.max(open.endUs, e.us), n = open.n + 1)
        }
        if (open != null) {
          state.update(open)
          // state-store timeouts are epoch-ms; fires when watermark
          // strictly passes it
          state.setTimeoutTimestamp((open.endUs + SessionGapUs) / 1000)
        }
        closed.result().iterator
      }
    }

    drainToMemory(spark, "q31", "append", Some(StatePartitions)) {
      evs.groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Append(),
          GroupStateTimeout.EventTimeTimeout())(fold)
    }
      .select(col("user_id"), col("session_no"), col("n_events"),
        col("start_us"), col("end_us"), col("duration_us"))
  }

  /** q37: streaming ingest INTO the proto-zst sink — readStream events →
    * cell projection → DSv2 streaming write (one zstd file per (epoch,
    * partition, task), tmp+rename task commit), then read the files
    * back through the proto-zst source and re-flatten. The check: the
    * round-tripped cells hash-match the same liveCells oracle as the
    * batch q30 — write path, streaming commit path and read path verify
    * each other. Each cell ships as its own single-column Row message
    * (append mode carries no per-key agg state; the key-grouped layout
    * is the batch sink's job — q29/q36).
    */
  def streamProtoSink(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{array, struct}
    val outDir = Scratch.dir("graft_ssink")
    val ckpt = Scratch.dir("graft_ssink_ckpt")
    val src = Tables.eventsStream(spark, dir)
    val nested = CellModel.cellsOf(CellModel.cellStringsOf(src))
      .filter(!col("partition_deleted") && col("kind") === "live")
      .select(col("key"),
        array(struct(col("name"), col("value"), col("write_time")))
          .as("columns"))
    drain(spark) {
      nested.writeStream.format("proto-zst")
        .option("checkpointLocation", ckpt)
        .option("path", outDir)
        .outputMode("append")
    }
    CellModel.flatCells(spark.read.format("proto-zst").load(outDir))
  }

  // toy default; the operator takes shards as an ARGUMENT (loader
  // parallelism scales with the cluster) and the non-default shape is
  // spec-covered
  private val SExpShards = 8 // shards per hour group
  // len("hHH-sSS") — the writer's file-group id AND the spec's group
  // check; the key format is fixed-width (hour two digits, shard two
  // digits, event_id twelve), so the fields and this prefix must move
  // together
  private[graft] val SExpPrefixBytes = 7

  /** q174: STREAMING PARTITIONED EXPORT — q171's one-file-per-group
    * release write, driven from a STREAM: events stream in, each gets
    * a content-derived export key `hHH-sSS:eEEEEEEEEEEEE` (hour-of-day
    * group, salted-hash shard, event id), and the proto-zst sink's
    * `splitKeyPrefix` mode rolls one output file per (hour, shard)
    * group per micro-batch task — continuous training-data ingest
    * landing directly in loader-sharded layout, with each micro-batch's
    * files folded into the generation manifest as ONE atomic epoch
    * commit (the streaming half of q171's release atomicity; q37 is
    * the unpartitioned sibling). Keys are content-derived, so the
    * on-disk CONTENT is identical under any batch split — the oracle
    * replays it from the raw table with no streaming machinery.
    *
    * Scale: key/shard assignment is row-local; one repartition on the
    * group key per batch (collisions are free — the writer splits by
    * content); manifest state is O(files). Group count (24×shards)
    * scales with the cluster, not the corpus — shards is the kernel's
    * ARGUMENT ([[SExpShards]] only the toy default), and ManifestSpec
    * covers a non-default shape.
    */
  def streamExport(spark: SparkSession, dir: String): DataFrame =
    streamExportOf(spark, Tables.eventsStream(spark, dir),
      Scratch.dir("graft_sexp"), Scratch.dir("graft_sexp_ckpt"))

  /** The q174 kernel over an explicit streaming source (ts = nano
    * longs) — exposed so ManifestSpec can drive a MULTI-epoch run
    * (maxFilesPerTrigger=1 over a split source) and prove the result
    * batch-split-invariant with one manifest commit per epoch.
    */
  private[graft] def streamExportOf(spark: SparkSession, src: DataFrame,
      outDir: String, ckpt: String, shards: Int = SExpShards): DataFrame = {
    require(shards >= 1 && shards <= 100,
      s"stream-export shard field is 2 digits; shards=$shards overflows")
    val keyed = src
      .withColumn("wt", expr("ts DIV 1000"))
      .withColumn("hour", expr("(wt DIV 3600000000) % 24"))
      .withColumn("shard", graft.functions.Portable.hash60(
        concat_ws(":", lit("sx"), col("event_id"))) % shards)
      .select(
        encode(format_string("h%02d-s%02d:e%012d", col("hour"), col("shard"),
          // an id past the 12-digit field would shift the payload
          // parse; fail loudly (the q161 guard discipline)
          when(col("event_id") < 1000000000000L, col("event_id"))
            .otherwise(raise_error(concat(lit("q174: event_id "),
              col("event_id").cast("string"),
              lit(" overflows the 12-digit key field"))))), "UTF-8")
          .as("key"),
        array(struct(
          encode(lit("event"), "UTF-8").as("name"),
          encode(concat_ws("|", col("event_id"), col("user_id"),
            col("event_type"), col("wt")), "UTF-8").as("value"),
          col("wt").as("write_time"))).as("columns"),
        col("hour"), col("shard"))
    drain(spark) {
      keyed
        .repartition(col("hour"), col("shard"))
        .select(col("key"), col("columns"))
        .writeStream.format("proto-zst")
        .option("checkpointLocation", ckpt)
        .option("splitKeyPrefix", SExpPrefixBytes.toString)
        .option("path", outDir)
        .outputMode("append")
    }
    spark.read.format("proto-zst").load(outDir)
      .select(decode(col("key"), "UTF-8").as("k"),
        decode(element_at(col("columns"), 1).getField("value"), "UTF-8")
          .as("payload"))
      .select(substring(col("k"), 2, 2).cast("long").as("hour"),
        substring(col("k"), 6, 2).cast("long").as("shard"),
        substring(col("k"), 10, 12).cast("long").as("event_id"),
        col("payload"))
  }

  /** q43: STREAMING DEDUP — the same events file streamed twice and
    * unioned (every record arrives exactly twice), then
    * `dropDuplicates("event_id")` collapses them in the state store
    * before a per-type aggregate. The oracle is the plain per-type
    * count over the raw table: only exact-once survival matches it.
    * State is the seen-key set — the streaming form of q14's exact
    * dedup (production would add a watermark column to the dedup key
    * so state ages out; the bounded testdata doesn't need one).
    */
  def streamDedup(spark: SparkSession, dir: String): DataFrame = {
    def src = Tables.eventsStream(spark, dir)
    // dedup on FULL row identity: keying on event_id alone would make
    // the survivor arbitrary if ids ever repeated with different
    // payloads, diverging from the oracle nondeterministically
    val agg = src.union(src)
      .dropDuplicates()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    drainToMemory(spark, "q43", "complete", Some(StatePartitions))(agg)
  }

  /** q48: streaming READ of the proto-zst format — the ingest loop's
    * other half (q37 streams INTO the sink; this streams OUT of it).
    * The batch sink writes the nested Rows, then the source's
    * MicroBatchStream delivers them file-by-file (offset = position in
    * the sorted listing, one partition per file) into a flatten that
    * must hash-match the same liveCells oracle as the batch q30 —
    * micro-batch planning, the streaming reader factory and the wire
    * decode verify each other.
    */
  def streamProtoSource(spark: SparkSession, dir: String): DataFrame = {
    val outDir = Sink.nestedFixture(spark, dir)
    val flat = CellModel.flatCells(spark.readStream.format("proto-zst").load(outDir))
    drainToMemory(spark, "q48", "append")(flat)
  }

  /** q84: streaming dedup with BOUNDED state — q43's exactly-once
    * collapse upgraded to `dropDuplicatesWithinWatermark`: the seen-key
    * state ages out once the event-time watermark passes a key's
    * horizon (1 h here), so state is O(keys per watermark window)
    * instead of O(all keys ever) — the production shape q43's scaladoc
    * promises ("add a watermark so state ages out"). Correctness
    * contract: duplicates arriving within the watermark delay of each
    * other collapse to one survivor; the doubled bounded fixture lands
    * in one micro-batch, so the result must still hash-match the plain
    * DISTINCT oracle — same gate as q43, different state lifecycle.
    */
  def streamDedupTtl(spark: SparkSession, dir: String): DataFrame = {
    def src = Tables.eventsStream(spark, dir)
      .withColumn("event_time", timestamp_micros(expr("ts DIV 1000")))
    // event ids are unique in the fixture, so keying the TTL state on
    // event_id alone matches the full-row dedup the oracle computes
    val agg = src.union(src)
      .withWatermark("event_time", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    drainToMemory(spark, "q84", "complete", Some(StatePartitions))(agg)
  }

  /** q98: ONLINE FEATURE STATE via `transformWithState` — Spark 4's
    * arbitrary-state API (typed state variables, TTLConfig, timers,
    * RocksDB-backed) driving a per-user feature row that updates as
    * events arrive: the keyed-upsert feed a feature store consumes.
    * Completes the custom-state coverage: flatMapGroupsWithState
    * (q31/q76, the classic API) and StatefulProcessor (this) both
    * proven against batch oracles. Requires the RocksDB state store
    * provider (a transformWithState constraint — and the provider the
    * portability spec already validates), set per-query here.
    *
    * Parity contract: the bounded fixture folds in one micro-batch, so
    * the single Update-mode row per user IS the final feature vector —
    * hash-equal to the batch per-user aggregate; a multi-batch run
    * emits one row per (user, batch) and the downstream upsert keeps
    * the latest, same as q76.
    */
  def streamUserFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    val evs = Tables.eventsStream(spark, dir)
      .select(col("user_id"),
        round(col("value") * 100, 0).cast("long").as("vc"),
        expr("ts DIV 1000").as("us"))
      .as[(Long, Long, Long)]
    drainToMemory(spark, "q98", "update", Some(StatePartitions), rocksDb = true) {
      evs.groupByKey(_._1)
        .transformWithState(new UserFeatureProcessor,
          TimeMode.None(), OutputMode.Update())
    }
  }

  /** q101 retirement horizon: 12 h of EVENT time without activity. */
  private val RetireTtlMs = 43200000L

  /** q101: FEATURE-STATE RETIREMENT — q98's online feature state with
    * the production lifecycle attached: an event-time timer per user
    * retires dormant keys ([[RetiringFeatureProcessor]]). Emission is
    * retire-ONLY (active users hold their state silently), so the sink
    * is exactly the dormant-user ledger — and the batch oracle is the
    * per-user aggregate filtered to users whose last event predates
    * the final watermark by >= the TTL. (The state variable itself runs
    * TTLConfig.NONE: the engine allows state TTL only under
    * TimeMode.ProcessingTime — q98 exercises that knob — while
    * event-time timers require TimeMode.EventTime; retirement IS this
    * query's TTL, driven by data time, which is what makes it
    * oracle-checkable at all.)
    *
    * Scale: state size ∝ active users (dormant keys are deleted by the
    * engine as their timers fire, not compacted away later); timers
    * live in the same RocksDB store, partition-local to the key, so
    * retirement adds no shuffle and no cross-partition coordination.
    */
  def streamFeatureRetire(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    val evs = Tables.eventsStream(spark, dir)
      .select(col("user_id"),
        round(col("value") * 100, 0).cast("long").as("vc"),
        expr("ts DIV 1000").as("us"))
      .withColumn("ets", timestamp_micros(col("us")))
      .withWatermark("ets", "0 seconds")
      .select(col("user_id"), col("vc"), col("us")).as[(Long, Long, Long)]
    drainToMemory(spark, "q101", "update", Some(StatePartitions), rocksDb = true) {
      evs.groupByKey(_._1)
        .transformWithState(new RetiringFeatureProcessor(RetireTtlMs),
          TimeMode.EventTime(), OutputMode.Update())
    }
  }

  /** q104: STREAM-STATIC JOIN — purchase events streaming in, enriched
    * against the STATIC customer dimension (user_id = c_custkey) and
    * aggregated per market segment: the ingest-time enrichment shape.
    * Unlike q69's stream-stream join this holds NO join state at all —
    * the static side is re-planned per micro-batch (Catalyst broadcasts
    * it while it fits, and a huge dimension falls back to a shuffle
    * join against only that BATCH's rows, never against stream
    * history), so the join itself is stateless and the only stateful
    * operator is the downstream aggregate.
    *
    * Scale: the canonical fact-stream × dimension deployment. The
    * per-segment aggregate state is 5 rows; `collect_set(user_id)` is
    * bounded by the user universe per segment (q28's documented
    * trade-off — streaming forbids countDistinct; an unbounded-
    * cardinality deployment switches to approx_count_distinct).
    */
  /** The q104 join/agg kernel over any (user_id, vc) stream and
    * (c_custkey, c_mktsegment) static frame — split out so the spec
    * can drive it from a MemoryStream and assert statelessness of the
    * join (exactly ONE state operator: the aggregate).
    */
  private[graft] def staticEnrichOf(purchases: DataFrame,
      dim: DataFrame): DataFrame =
    purchases.join(dim, col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_purchases"),
        size(collect_set(col("user_id"))).as("n_users"),
        (sum(col("vc")).cast("double") / 100.0).as("sum_value"))

  def streamStaticJoin(spark: SparkSession, dir: String): DataFrame = {
    val dim = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    val purchases = Tables.eventsStream(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"),
        round(col("value") * 100, 0).cast("long").as("vc"))
    val agg = staticEnrichOf(purchases, dim)
    drainToMemory(spark, "q104", "complete", Some(StatePartitions))(agg)
  }

  private val DayUs = 86400000000L // µs per day, matches Events

  /** q107: APPEND-MODE FINALIZED WINDOWS — q28's daily aggregation
    * emitted the immutable-sink way: `outputMode("append")` holds every
    * window in state until the event-time watermark passes its END,
    * then emits it exactly once, closed and final — the contract a
    * parquet/proto sink needs (q28's complete mode re-emits the whole
    * result per batch and only a truncate-and-reload sink can consume
    * it). With a 1 h watermark delay the corpus' last day stays open
    * (max event time − 1 h precedes that window's end), so the emitted
    * set is a strict, deterministic subset of q26's rows.
    *
    * Finalization boundary, pinned against the engine (q31/q102
    * discipline): a window emits iff `window_end_ms <= watermark_ms`
    * where `watermark_ms = floor(max event µs / 1000) − 3_600_000` —
    * the oracle mirrors exactly that comparison; the PipelineSpec
    * boundary test constructs a window whose end EQUALS the watermark
    * to pin `<=` (an engine shift to `<` flips it loudly).
    *
    * Scale: state is one row per OPEN (day, type) window — bounded by
    * the watermark delay, not the stream's history; eviction is the
    * emission itself, so a year of ingest holds ≤ 2 days of windows
    * regardless of corpus size.
    */
  /** The q107 windowed kernel over any (event_type, us, vc) stream —
    * split out so the boundary spec can drive it from a MemoryStream:
    * a constructed window whose end EQUALS the final watermark pins
    * the `<=` finalization comparison the oracle mirrors.
    */
  private[graft] def windowFinalOf(events: DataFrame): DataFrame =
    events
      .withColumn("event_time", timestamp_micros(col("us")))
      .withWatermark("event_time", "1 hour")
      .groupBy(window(col("event_time"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        (sum(col("vc")).cast("double") / 100.0).as("sum_value"))
      .select(expr(s"unix_micros(window.start) DIV $DayUs").as("day_bucket"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** q117: SLIDING WINDOWS UNDER WATERMARK FINALIZATION — q114's
    * 7-day/1-day sliding aggregation run as an append-mode stream:
    * every event feeds 7 OVERLAPPING open windows (state ∝ windows
    * open inside the watermark horizon — overlap × delay, not stream
    * history), and each window still emits exactly once when the
    * watermark passes its end (q107's `window_end <= watermark`
    * comparison, pinned there). The trailing-week-by-day metric
    * served from a stream with exactly-once emission — q26/q28's
    * tumbling twin taken to the overlapping case.
    */
  def streamSlidingFinal(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.eventsStream(spark, dir)
    val agg = typedCents(src)
      .withColumn("event_time", timestamp_micros(col("us")))
      .withWatermark("event_time", "1 hour")
      .groupBy(window(col("event_time"), "7 days", "1 day"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        (sum(col("vc")).cast("double") / 100.0).as("sum_value"))
      .select(expr(s"unix_micros(window.start) DIV $DayUs").as("start_day"),
        col("event_type"), col("n_events"), col("sum_value"))
    drainToMemory(spark, "q117", "append", Some(StatePartitions))(agg)
  }

  /** q141: CHAINED STATEFUL OPERATORS — two event-time window
    * aggregations in ONE streaming query (Spark 4's multi-stateful
    * support): per-(hour, type) counts feed a downstream per-(day,
    * type) roll-up over `window_time` of the hourly window, both
    * append-mode and watermark-finalized. Every other streaming query
    * here has exactly one stateful operator; this is the shape a real
    * pipeline takes when a raw aggregate feeds a coarser one without
    * landing in a table in between (hourly → daily rollup, session →
    * per-cohort session stats).
    *
    * Finalization composes: an hourly window emits when the watermark
    * passes its end (q107's `<=` comparison), its emission carries
    * event time `window_time = end − 1µs`, and the daily window over
    * those emissions emits when the PROPAGATED watermark passes the
    * day end — so the final table holds exactly the days whose every
    * hour the watermark closed: `day_end_ms <= wm_ms`, the oracle's
    * comparison.
    *
    * Scale: state is (open hourly windows) + (open daily windows)
    * inside the watermark horizon — both bounded by delay × key
    * cardinality, never by history; the chain saves the intermediate
    * table AND its re-read that a two-query pipeline would pay, and
    * the hour→day shuffle is the only exchange between the stages.
    */
  private[graft] def chainedAggOf(events: DataFrame): DataFrame =
    events
      .withColumn("event_time", timestamp_micros(col("us")))
      .withWatermark("event_time", "1 hour")
      .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("vc")).as("sv"))
      .groupBy(window(window_time(col("window")), "1 day"),
        col("event_type"))
      .agg(count(lit(1)).as("n_hours"), sum(col("n")).as("n_events"),
        (sum(col("sv")).cast("double") / 100.0).as("sum_value"))
      .select(expr(s"unix_micros(window.start) DIV $DayUs").as("day_bucket"),
        col("event_type"), col("n_hours"), col("n_events"),
        col("sum_value"))

  def streamChainedAgg(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.eventsStream(spark, dir)
    val agg = chainedAggOf(typedCents(src))
    drainToMemory(spark, "q141", "append", Some(StatePartitions))(agg)
  }

  /** The (event_type, µs, value-cents) projection the watermark-
    * finalization family (q107/q117/q141) shares — the value-cents
    * discipline stated once, so a guard or scaling change cannot
    * silently diverge the three drivers.
    */
  private def typedCents(src: DataFrame): DataFrame =
    src.select(col("event_type"), expr("ts DIV 1000").as("us"),
      round(col("value") * 100, 0).cast("long").as("vc"))

  def streamWindowFinal(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.eventsStream(spark, dir)
    val agg = windowFinalOf(typedCents(src))
    drainToMemory(spark, "q107", "append", Some(StatePartitions))(agg)
  }

  /** q113's MERGE: fold one micro-batch of per-key rows into a keyed
    * parquet target — the merge BASE is the newest generation STRICTLY
    * below this batch (never the unbounded latest: a replayed batch
    * must fold the same base again, so a crashed half-written
    * g<batchId> is simply overwritten with the identical rewrite —
    * reading the latest would make the replay consume its own partial
    * output, and even a clean replay would read and overwrite the same
    * path). Anti-join the base on the batch's keys (drop superseded
    * rows), union the batch, write generation `g<batchId>`. Readers
    * take the highest generation; foreachBatch's at-least-once
    * delivery thus composes to exactly-once — the idempotent-sink
    * contract (the same discipline [[mergeSketchInto]] documents).
    */
  private[graft] def mergeIntoKeyed(target: String)(
      batch: DataFrame, batchId: Long): Unit = {
    val sp = batch.sparkSession
    val merged = latestGen(target, below = Some(batchId)) match {
      case Some(g) =>
        val cur = sp.read.parquet(s"$target/g$g")
        cur.join(batch, Seq("user_id"), "left_anti").unionByName(batch)
      case None => batch
    }
    merged.write.mode("overwrite").parquet(s"$target/g$batchId")
  }

  /** Newest generation under `target`, optionally restricted to ids
    * strictly below an EXCLUSIVE bound (the replay-safe merge base —
    * see [[mergeIntoKeyed]]).
    */
  private[graft] def latestGen(target: String,
      below: Option[Long] = None): Option[Long] =
    Option(new java.io.File(target).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("g"))
      .map(_.getName.stripPrefix("g").toLong)
      .filter(g => below.forall(g < _)).sorted.lastOption

  /** q113: STREAMING UPSERT SINK via `foreachBatch` — the escape hatch
    * every production pipeline ends at when the destination isn't a
    * streaming-native sink: an Update-mode per-user aggregate whose
    * changed rows are MERGED into a keyed parquet table per
    * micro-batch ([[mergeIntoKeyed]]). Complements the state-side
    * feature queries (q98 keeps the accumulator in the state store;
    * this keeps the TABLE outside the query, so any batch consumer
    * reads current features without touching streaming state).
    *
    * Scale: each batch writes |changed keys ∪ current| rows — the
    * anti-join is keyed, the target re-clusters by nothing (a real
    * deployment buckets the target by the key and the anti-join goes
    * exchange-free, the q44/q61 layout); the generation chain is the
    * q80 pattern, pruned by the q103 vacuum. Parity: AvailableNow
    * folds the fixture in one batch here; the SPEC drives two batches
    * through the same merge and proves supersede + survive.
    */
  def streamUpsertSink(spark: SparkSession, dir: String): DataFrame = {
    val target = Scratch.dir("graft_upsert")
    val agg = Tables.eventsStream(spark, dir)
      .select(col("user_id"),
        round(col("value") * 100, 0).cast("long").as("vc"),
        expr("ts DIV 1000").as("us"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("vc")).as("sum_vc"),
        max(col("us")).as("last_us"))
    drain(spark, Some(StatePartitions)) {
      agg.writeStream
        .outputMode("update")
        .option("checkpointLocation", Scratch.dir("graft_upsert_ckpt"))
        .foreachBatch(mergeIntoKeyed(target) _)
    }
    spark.read.parquet(s"$target/g${latestGen(target).get}")
  }

  // q163 sketch parameters: lgK = 12 and a 100-milli (10%) accepted
  // bound — the q134/q138 contract (see Sketches.SketchRsdMilli's margin
  // require: bound >= 5x rsd, so a pinned est_ok is a ~6-sigma fact,
  // not a coin flip)
  private val LedgerLgK = 12
  private val LedgerBoundMilli = 100L

  /** q163: STREAMING SKETCH LEDGER — per-type distinct-user counts
    * maintained ACROSS micro-batches by folding HLL sketches into a
    * keyed generation target (q113's idempotent-merge discipline
    * applied to sketch state): each batch aggregates its own rows into
    * per-type sketches, `hll_union`s them with the previous
    * generation, and writes generation `g<batchId>` — re-running a
    * batch overwrites its own generation, so at-least-once delivery
    * composes to exactly-once. The final ledger's estimates are
    * bound-checked in-plan against the exact batch-side distinct
    * counts (q138's discipline), so a drifted union or a broken
    * serialization round-trip fails the oracle hash.
    *
    * This is the production shape for "distinct anything" over an
    * unbounded stream: exact distinct state grows with cardinality and
    * `dropDuplicates` state needs watermark eviction, but the sketch
    * ledger is KB-sized per key FOREVER, mergeable across streams and
    * days, and never rescans history — the q134 mergeability story
    * with a streaming writer.
    */
  /** The q163 fold: union one batch's per-type sketches into the
    * previous ledger generation, write generation `g<batchId>` —
    * exposed for the exactly-once/merge-order spec.
    */
  private[graft] def mergeSketchInto(target: String)(
      batch: DataFrame, batchId: Long): Unit = {
    val sp = batch.sparkSession
    val bs = batch.groupBy(col("event_type"))
      .agg(expr(s"hll_sketch_agg(user_id, $LedgerLgK)").as("sk_new"))
    // merge base = newest generation STRICTLY below this batch (never
    // the unbounded latest: a replayed batch must fold the same base
    // again, so a crashed half-written g<batchId> is simply
    // overwritten — HLL determinism makes the rewrite bit-identical,
    // hence exactly-once)
    val prev = latestGen(target, below = Some(batchId))
    val merged = prev match {
      case Some(g) =>
        sp.read.parquet(s"$target/g$g")
          .join(bs, Seq("event_type"), "full_outer")
          .select(col("event_type"), expr("CASE " +
            "WHEN sk IS NULL THEN sk_new WHEN sk_new IS NULL THEN sk " +
            "ELSE hll_union(sk, sk_new) END").as("sk"))
      case None => bs.select(col("event_type"), col("sk_new").as("sk"))
    }
    merged.write.mode("overwrite").parquet(s"$target/g$batchId")
  }

  def streamSketchLedger(spark: SparkSession, dir: String): DataFrame = {
    val target = Scratch.dir("graft_sketch_ledger")
    val src = Tables.eventsStream(spark, dir)
      .select(col("event_type"), col("user_id"))
    drain(spark, Some(StatePartitions)) {
      src.writeStream
        .option("checkpointLocation", Scratch.dir("graft_ledger_ckpt"))
        .foreachBatch(mergeSketchInto(target) _)
    }
    val ledger = spark.read.parquet(s"$target/g${latestGen(target).get}")
      .select(col("event_type"),
        expr("hll_sketch_estimate(sk)").as("est_n"))
    val exact = Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_n"))
    ledger.join(exact, "event_type")
      .select(col("event_type"), col("exact_n"),
        (abs(col("est_n") - col("exact_n")) * 1000 <=
          lit(LedgerBoundMilli) * col("exact_n")).cast("int").as("est_ok"))
  }

  private val AttributionGapUs = 3600000000L // 1 h view→purchase window

  /** q69: STREAM-STREAM JOIN — view events joined to purchase events of
    * the same user within a 1-hour attribution window, both sides
    * unbounded streams. This is the shape batch joins cannot replace at
    * ingest time: neither side is "the dimension"; matches must emit as
    * soon as both halves have arrived, and state for each side must be
    * evictable once the other side's event-time watermark passes the
    * join window.
    *
    * Scale: Spark plans this as a StreamingSymmetricHashJoin — both
    * streams hash-partitioned on `user_id` (state co-located with its
    * key, no broadcast of an unbounded side), and the time-range
    * condition plus the two watermarks bound each side's state to ONE
    * attribution window of history per key. Without the range condition
    * state grows forever; with it, eviction is mechanical. Inner join +
    * append mode means emitted matches are final — exactly-once to any
    * downstream sink.
    *
    * The DuckDB oracle is the equivalent static self-join; parity holds
    * because `AvailableNow` delivers the bounded fixture in one
    * micro-batch (watermark 0 during it), so no row is late.
    */
  def streamStreamJoin(spark: SparkSession, dir: String): DataFrame = {
    def src = Tables.eventsStream(spark, dir)
    val views = src.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"),
        expr("ts DIV 1000").as("view_us"),
        timestamp_micros(expr("ts DIV 1000")).as("view_time"))
      .withWatermark("view_time", "1 hour")
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        expr("ts DIV 1000").as("purchase_us"),
        timestamp_micros(expr("ts DIV 1000")).as("purchase_time"))
      .withWatermark("purchase_time", "1 hour")
    val joined = views.join(purchases,
      col("user_id") === col("p_user") &&
        col("purchase_time") >= col("view_time") &&
        col("purchase_time") <= col("view_time") + expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("view_id"), col("purchase_id"),
        col("view_us"), col("purchase_us"),
        (col("purchase_us") - col("view_us")).as("gap_us"))
    drainToMemory(spark, "q69", "append", Some(StatePartitions))(joined)
  }

  private val HourUs = 3600000000L // µs per hour

  /** q162: STREAM-STREAM JOIN FEEDING A WINDOWED AGGREGATE — the
    * join→agg chain of stateful operators (q141 chains agg→agg; this
    * completes the pairings Spark 4's multi-stateful support allows):
    * q69's attribution join, then an hourly conversion roll-up over
    * the PURCHASE event time, in ONE query — no intermediate table,
    * no second pipeline. The inner join emits each match as soon as
    * both rows exist; the downstream window finalizes when the
    * propagated query watermark (the MIN of both input watermarks,
    * each max-event-time − 1 h) passes its end — q107's `<=`
    * comparison, replayed by the oracle.
    *
    * Scale: join state = one attribution window per side (range
    * condition + watermarks, exactly q69); agg state = open hourly
    * windows inside the horizon. The user-key join shuffle and the
    * window shuffle are the only exchanges, both map-side-combined.
    */
  private[graft] def joinWindowOf(views: DataFrame,
      purchases: DataFrame): DataFrame =
    views.withWatermark("view_time", "1 hour")
      .join(purchases.withWatermark("purchase_time", "1 hour"),
        col("user_id") === col("p_user") &&
          col("purchase_time") >= col("view_time") &&
          col("purchase_time") <= col("view_time") + expr("INTERVAL 1 HOUR"))
      .groupBy(window(col("purchase_time"), "1 hour"))
      .agg(count(lit(1)).as("n_conversions"),
        sum(col("purchase_us") - col("view_us")).as("sum_gap_us"))
      .select(expr(s"unix_micros(window.start) DIV $HourUs")
        .as("hour_bucket"), col("n_conversions"), col("sum_gap_us"))

  def streamJoinWindow(spark: SparkSession, dir: String): DataFrame = {
    def src = Tables.eventsStream(spark, dir)
    val views = src.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"),
        expr("ts DIV 1000").as("view_us"),
        timestamp_micros(expr("ts DIV 1000")).as("view_time"))
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        expr("ts DIV 1000").as("purchase_us"),
        timestamp_micros(expr("ts DIV 1000")).as("purchase_time"))
    val agg = joinWindowOf(views, purchases)
    drainToMemory(spark, "q162", "append", Some(StatePartitions))(agg)
  }

  /** The q102 join kernel over any pair of streaming frames with the
    * q69 column contract — split out so the spec can drive it from a
    * MemoryStream: a constructed un-finalized view must emit NOTHING
    * (not a premature null row), the boundary view whose window end
    * EQUALS the watermark pins the strict `<` eviction comparison,
    * and state metrics must show eviction. (Spec corpus pitfall,
    * learned the hard way: event times within ~an hour of the 1970
    * epoch sit below the join's initial state-cleanup cutoffs and the
    * join silently emits NOTHING — constructed fixtures must use
    * realistic timestamps.)
    */
  private[graft] def outerAttributionOf(views: DataFrame,
      purchases: DataFrame): DataFrame =
    views.withWatermark("view_time", "1 hour")
      .join(purchases.withWatermark("purchase_time", "1 hour"),
        col("user_id") === col("p_user") &&
          col("purchase_time") >= col("view_time") &&
          col("purchase_time") <= col("view_time") + expr("INTERVAL 1 HOUR"),
        "left_outer")
      .select(col("user_id"), col("view_id"), col("purchase_id"),
        col("view_us"), col("purchase_us"),
        (col("purchase_us") - col("view_us")).as("gap_us"))

  /** q102: LEFT-OUTER STREAM-STREAM JOIN — q69's attribution join with
    * the unmatched-view half every attribution pipeline ships: a view
    * with no purchase inside its 1-hour window emits ONE null-extended
    * row, but only once the purchase-side event-time watermark has
    * passed the window's end (before that, a match could still
    * arrive — emitting earlier would retract). Matched rows emit
    * exactly as q69's inner join does.
    *
    * Scale: same StreamingSymmetricHashJoin as q69 — both sides
    * hash-partitioned on `user_id`, state bounded to one attribution
    * window per side by the range condition + watermarks; the outer
    * half adds NO state, it only turns state EVICTION of a matchless
    * view row into an emission, so the null-row pass is free at any
    * corpus size.
    *
    * Parity contract (q31's closed-subset discipline): the final
    * watermark is `floor(max event µs/1000)ms - 1 h`; a view emits its
    * null row iff `view_ms + 1 h < watermark` — STRICT: eviction is
    * `state < watermark` on ms values, pinned empirically and mirrored
    * by the oracle's `<`, so the boundary view whose expiry EQUALS the
    * watermark stays in state. Views younger than that stay in state
    * and emit nothing; the oracle filters to exactly the finalized
    * set.
    */
  def streamStreamLeftJoin(spark: SparkSession, dir: String): DataFrame = {
    def src = Tables.eventsStream(spark, dir)
    val views = src.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"),
        expr("ts DIV 1000").as("view_us"),
        timestamp_micros(expr("ts DIV 1000")).as("view_time"))
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        expr("ts DIV 1000").as("purchase_us"),
        timestamp_micros(expr("ts DIV 1000")).as("purchase_time"))
    drainToMemory(spark, "q102", "append", Some(StatePartitions))(
      outerAttributionOf(views, purchases))
  }

  /** q76: STREAMING FUNNEL — the q75 conversion funnel as live per-user
    * state: `flatMapGroupsWithState` carries ONE [[FunnelState]] (three
    * optional step timestamps) per user and emits the user's current
    * funnel row after folding each micro-batch — the Update-mode shape
    * a keyed upsert sink (or feature store) consumes. Step N advances
    * only on events at-or-after step N-1's instant, and within a batch
    * events fold in (us, event_id) order, so the incremental scan
    * computes exactly the batch q75's conditional-min semantics.
    *
    * Scale: state per user is three longs FOREVER — no event history,
    * no timeout needed for boundedness (production would add a TTL
    * timeout to retire dormant users). Parity with the batch oracle
    * holds because `AvailableNow` folds the bounded fixture in one
    * micro-batch, so the single emitted row per user IS the final
    * state; a multi-batch deployment gets one row per (user, batch) and
    * the downstream upsert keeps the latest. KNOWN approximation under
    * cross-batch REORDERING: the three-longs state is first-wins — a
    * later batch delivering an EARLIER view cannot retroactively lower
    * t1 or resurrect a click it previously rejected (the batch q75,
    * with full history, would); exact parity under arbitrary reorder
    * requires buffering per-step event history until the watermark,
    * which this operator deliberately trades away for O(1) state.
    */
  def streamFunnel(spark: SparkSession, dir: String): DataFrame =
    streamFunnelOf(spark, Tables.eventsStream(spark, dir))

  /** The q76 kernel over an explicit streaming source (ts = nano
    * longs) — exposed so the divergence spec can drive a MULTI-batch
    * run (maxFilesPerTrigger=1 over a split source) that CONSTRUCTS
    * the cross-batch reordering the scaladoc documents, and pin the
    * first-wins answer by test instead of prose.
    */
  private[graft] def streamFunnelOf(spark: SparkSession,
      src: DataFrame): DataFrame = {
    import spark.implicits._
    val evs = src
      .select(col("user_id"), col("event_id"),
        col("event_type").as("etype"), expr("ts DIV 1000").as("us"))
      .as[(Long, Long, String, Long)]

    def fold(userId: Long, events: Iterator[(Long, Long, String, Long)],
        state: GroupState[FunnelState]): Iterator[FunnelOut] = {
      var s = state.getOption.getOrElse(FunnelState(None, None, None))
      // same-instant ties fold view→click→purchase so the `>=` step
      // conditions see the earlier step's timestamp exactly as the
      // batch conditional-min does (a click AT the first view's µs
      // qualifies, whatever its event_id)
      val prio = Map("view" -> 0, "click" -> 1, "purchase" -> 2)
      events.toSeq
        .sortBy(e => (e._4, prio.getOrElse(e._3, 3), e._2))
        .foreach { case (_, _, t, us) =>
        if (s.t1.isEmpty && t == "view") s = s.copy(t1 = Some(us))
        else if (s.t1.nonEmpty && s.t2.isEmpty && t == "click" &&
          us >= s.t1.get) s = s.copy(t2 = Some(us))
        else if (s.t2.nonEmpty && s.t3.isEmpty && t == "purchase" &&
          us >= s.t2.get) s = s.copy(t3 = Some(us))
      }
      state.update(s)
      val depth =
        if (s.t3.nonEmpty) 3 else if (s.t2.nonEmpty) 2
        else if (s.t1.nonEmpty) 1 else 0
      Iterator.single(FunnelOut(userId, s.t1, s.t2, s.t3, depth))
    }

    drainToMemory(spark, "q76", "update", Some(StatePartitions)) {
      evs.groupByKey(_._1)
        .flatMapGroupsWithState(OutputMode.Update(),
          GroupStateTimeout.NoTimeout())(fold)
    }
  }

  /** q130: STREAMING TOP-K via `transformWithState` MAP STATE — the
    * per-key map half of the new state API (ValueState/timers/TTL are
    * q98/q101): stream the multi-file proto-zst sink fixture ONE FILE
    * PER MICRO-BATCH (the source's admission control), fold each live
    * cell into the keyed `MapState[user → count]`, and emit each
    * type's current top-3 per batch tagged with an emission sequence.
    * The returned frame keeps each type's LAST emission — the final
    * snapshot, whose totals span every batch, so the oracle is the
    * plain batch top-3 per live type REGARDLESS of how many batches
    * the file count produced (cross-batch state accumulation is the
    * thing being proven; the spec additionally pins multi-batch and
    * monotone growth).
    *
    * Scale: state per type is its user-count map (the same entity
    * bound a batch groupBy shuffles); emission is the two-phase top-k
    * story — per-key k rows per batch, final exact selection over the
    * last emissions only.
    */
  def streamTopUsers(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wmax = Window.partitionBy(col("event_type"))
    streamTopUsersRaw(spark, dir)
      .withColumn("max_seq", max(col("seq")).over(wmax))
      .filter(col("seq") === col("max_seq"))
      .select(col("event_type"), col("rnk"), col("user_id"), col("n_cells"))
      // defensive: the Update-mode memory sink keeps re-delivered rows
      // if a batch retries, which would duplicate (key, seq) — the
      // snapshot must stay a set regardless of delivery count
      .distinct()
  }

  /** The q130 run with every per-batch emission kept (seq-tagged) —
    * the spec asserts multi-batch accumulation on this raw table over
    * a fixture it splits into multiple files itself (at toy scale AQE
    * may coalesce the shared fixture's nest into ONE file, collapsing
    * the stream to a single batch; the snapshot semantics hold either
    * way, which is exactly why the multi-batch proof pins its own
    * layout).
    */
  private[graft] def streamTopUsersRaw(spark: SparkSession,
      dir: String, fixtureDir: Option[String] = None): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    val outDir = fixtureDir.getOrElse(Sink.nestedFixture(spark, dir))
    val cells = spark.readStream.format("proto-zst")
      .option("maxFilesPerTrigger", "1").load(outDir)
      .select(decode(col("key"), "UTF-8").cast("long").as("user_id"),
        explode(col("columns")).as("c"))
      .select(substring_index(decode(col("c.name"), "UTF-8"), ":", -1)
        .as("event_type"), col("user_id"))
      .as[(String, Long)]
    drainToMemory(spark, "q130", "update", Some(StatePartitions), rocksDb = true) {
      cells.groupByKey(_._1)
        .transformWithState(new TypeTopUsersProcessor(3),
          TimeMode.None(), OutputMode.Update())
    }
  }

  private val RecentN = 5 // q131 buffer depth

  /** q131: STREAMING RECENT-HISTORY BUFFER via `transformWithState`
    * LIST STATE — each user's [[RecentN]] most recent live cells
    * (write-time order, name-tiebroken) held as a bounded ListState
    * and summarized per batch; the returned frame is the final
    * snapshot (q130's seq-tag discipline). This is the "last-N events
    * as features" shape every online feature store serves; the buffer
    * is REWRITTEN bounded each batch (`put`), so state per user is
    * [[RecentN]] rows regardless of history length — contrast q98's
    * scalar accumulator, which aggregates but cannot window.
    *
    * The batch oracle is the (us DESC, name DESC) row_number ≤ N
    * aggregate over the same live cells, batch-segmentation-proof
    * because only arrival COMPLETENESS, not order, determines the
    * final buffer.
    */
  def streamRecentBuffer(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wmax = Window.partitionBy(col("user_id"))
    streamRecentBufferRaw(spark, dir)
      .withColumn("max_seq", max(col("seq")).over(wmax))
      .filter(col("seq") === col("max_seq"))
      .select(col("user_id"), col("n_recent"), col("earliest_us"),
        col("latest_us"), col("value_bytes"))
      // defensive: a retried batch re-delivers rows into the Update-
      // mode memory sink — dedup so the snapshot stays a set
      .distinct()
  }

  private[graft] def streamRecentBufferRaw(spark: SparkSession,
      dir: String, fixtureDir: Option[String] = None): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    val outDir = fixtureDir.getOrElse(Sink.nestedFixture(spark, dir))
    val cells = spark.readStream.format("proto-zst")
      .option("maxFilesPerTrigger", "1").load(outDir)
      .select(decode(col("key"), "UTF-8").cast("long").as("user_id"),
        explode(col("columns")).as("c"))
      .select(col("user_id"), col("c.write_time").as("us"),
        decode(col("c.name"), "UTF-8").as("name"),
        length(col("c.value")).cast("long").as("vbytes"))
      .as[(Long, Long, String, Long)]
    drainToMemory(spark, "q131", "update", Some(StatePartitions), rocksDb = true) {
      cells.groupByKey(_._1)
        .transformWithState(new RecentBufferProcessor(RecentN),
          TimeMode.None(), OutputMode.Update())
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q131_recent_buffer" -> streamRecentBuffer,
    "q130_stream_topk" -> streamTopUsers,
    "q141_chained_windows" -> streamChainedAgg,
    "q162_stream_join_window" -> streamJoinWindow,
    "q163_stream_sketch_ledger" -> streamSketchLedger,
    "q117_stream_sliding" -> streamSlidingFinal,
    "q113_stream_upsert" -> streamUpsertSink,
    "q107_stream_window_final" -> streamWindowFinal,
    "q104_stream_static_join" -> streamStaticJoin,
    "q102_stream_outer_join" -> streamStreamLeftJoin,
    "q101_feature_ttl" -> streamFeatureRetire,
    "q98_stream_features" -> streamUserFeatures,
    "q84_stream_dedup_ttl" -> streamDedupTtl,
    "q76_stream_funnel" -> streamFunnel,
    "q28_stream_window" -> streamWindowAgg,
    "q31_stream_sessionize" -> streamSessionize,
    "q174_stream_export" -> streamExport,
    "q37_stream_sink" -> streamProtoSink,
    "q43_stream_dedup" -> streamDedup,
    "q48_stream_proto_source" -> streamProtoSource,
    "q69_stream_stream_join" -> streamStreamJoin)

  private val streamSessionSql =
    s"""WITH s AS (${Events.oracle("q27_sessionize")}),
       |m AS (SELECT max(epoch_us(ts)) mx FROM events),
       |x AS (SELECT s.*, max(session_no) OVER (PARTITION BY user_id) last_sn FROM s)
       |SELECT user_id, session_no, n_events, start_us, end_us, duration_us
       |FROM x, m
       |WHERE session_no < last_sn
       |   OR (end_us + $SessionGapUs) // 1000 < mx // 1000""".stripMargin

  /** q174 oracle: the export keys/payloads replayed from the raw
    * table — content-derived keys make the sink round trip
    * batch-split-invariant, so no streaming machinery appears here.
    */
  private val streamExportSql = {
    val h = graft.functions.Portable.sqlHash60(
      "'sx:' || CAST(event_id AS VARCHAR)")
    s"""WITH e AS (SELECT event_id, user_id, event_type,
       |            epoch_us(ts) AS wt FROM events),
       |k AS (SELECT *, (wt // 3600000000) % 24 AS hour,
       |        $h % $SExpShards AS shard FROM e)
       |SELECT CAST(hour AS BIGINT) AS hour, shard, event_id,
       |  CAST(event_id AS VARCHAR) || '|' || CAST(user_id AS VARCHAR)
       |    || '|' || event_type || '|' || CAST(wt AS VARCHAR) AS payload
       |FROM k""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    // the final ListState buffer == the batch last-N selection over the
    // same live cells (name reconstructed exactly as CellModel writes
    // it; octet_length mirrors byte-length of the UTF-8 value)
    "q131_recent_buffer" ->
      (s"""WITH lc AS (SELECT user_id, epoch_us(ts) AS us,
          |        lpad(CAST(event_id AS VARCHAR), 12, '0') || ':' || event_type AS name,
          |        CAST(octet_length(encode(coalesce(props, ''))) AS BIGINT) AS vbytes
          |      FROM events
          |      WHERE event_type NOT IN ('error','signup','view')
          |        AND user_id % 50 <> 0),
          |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
          |        ORDER BY us DESC, name DESC) AS rn FROM lc),
          |k AS (SELECT * FROM r WHERE rn <= $RecentN)
          |SELECT user_id, CAST(count(*) AS INTEGER) AS n_recent,
          |  min(us) AS earliest_us, max(us) AS latest_us,
          |  CAST(sum(vbytes) AS BIGINT) AS value_bytes
          |FROM k GROUP BY user_id""".stripMargin),
    // the final MapState snapshot == the batch aggregate over the live
    // cells the nested fixture holds (CellModel's kind/tombstone
    // mapping: error/signup/view cells and user%50 partitions never
    // reach the sink), whatever the batch segmentation was
    "q130_stream_topk" ->
      ("""WITH lc AS (SELECT event_type, user_id, count(*) AS n_cells
         |            FROM events
         |            WHERE event_type NOT IN ('error','signup','view')
         |              AND user_id % 50 <> 0
         |            GROUP BY 1, 2),
         |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
         |        ORDER BY n_cells DESC, user_id ASC) AS rnk FROM lc)
         |SELECT event_type, CAST(rnk AS INTEGER) AS rnk, user_id, n_cells
         |FROM r WHERE rnk <= 3""".stripMargin),
    // q114's sliding expansion restricted to windows the final
    // watermark closed — same `window_end <= wm` comparison as q107
    "q117_stream_sliding" ->
      (s"""WITH wm AS (SELECT max(epoch_us(ts)) // 1000 - 3600000 AS wm_ms
          |            FROM events),
          |e AS (SELECT event_type, epoch_us(ts) // $DayUs AS d,
          |        CAST(round(value*100,0) AS BIGINT) vc FROM events),
          |x AS (SELECT event_type, vc, unnest(range(d - 6, d + 1)) AS start_day
          |      FROM e)
          |SELECT start_day, event_type, count(*) AS n_events,
          |       CAST(sum(vc) AS DOUBLE)/100.0 AS sum_value
          |FROM x, wm
          |GROUP BY 1, 2, wm.wm_ms
          |HAVING (start_day + 7) * ${DayUs / 1000} <= wm.wm_ms""".stripMargin),
    // the upserted table's final state IS the per-user aggregate
    // (update-mode emissions are cumulative; the merge keeps the last)
    "q113_stream_upsert" ->
      ("SELECT user_id, count(*) AS n_events, " +
        "CAST(sum(CAST(round(value*100, 0) AS BIGINT)) AS BIGINT) AS sum_vc, " +
        "max(epoch_us(ts)) AS last_us FROM events GROUP BY user_id"),
    // stateless enrichment: the plain batch join/aggregate
    "q104_stream_static_join" ->
      ("""SELECT c_mktsegment, count(*) AS n_purchases,
         |  CAST(count(DISTINCT user_id) AS INTEGER) AS n_users,
         |  CAST(sum(CAST(round(value*100,0) AS BIGINT)) AS DOUBLE)/100.0 AS sum_value
         |FROM events JOIN customer ON user_id = c_custkey
         |WHERE event_type = 'purchase'
         |GROUP BY c_mktsegment""".stripMargin),
    // append-mode finalization: q26's daily rows restricted to windows
    // the final watermark closed — `window_end_ms <= wm_ms`, with
    // wm_ms = floor(max event µs / 1000) - 1 h (delay), mirroring the
    // engine's eviction comparison exactly
    // chained finalization: hour windows the watermark closed
    // (hour_end_ms <= wm_ms), rolled to days, keeping only days the
    // watermark also closed (day_end_ms <= wm_ms) — the two stateful
    // operators' eviction comparisons composed in integer ms, with
    // wm_ms = floor(max event µs / 1000) - 1 h as in q107
    "q141_chained_windows" ->
      (s"""WITH ev AS (SELECT event_type, epoch_us(ts) AS us,
          |              CAST(round(value*100,0) AS BIGINT) AS vc
          |            FROM events),
          |wm AS (SELECT max(us) // 1000 - 3600000 AS wm_ms FROM ev),
          |h AS (SELECT us // 3600000000 AS hb, event_type,
          |        count(*) AS n, sum(vc) AS sv
          |      FROM ev GROUP BY 1, 2),
          |hf AS (SELECT * FROM h, wm WHERE (hb + 1) * 3600000 <= wm.wm_ms)
          |SELECT hb // 24 AS day_bucket, event_type,
          |  count(*) AS n_hours, CAST(sum(n) AS BIGINT) AS n_events,
          |  CAST(sum(sv) AS DOUBLE)/100.0 AS sum_value
          |FROM hf
          |GROUP BY 1, 2, hf.wm_ms
          |HAVING (day_bucket + 1) * ${DayUs / 1000} <= hf.wm_ms""".stripMargin),
    "q107_stream_window_final" ->
      (s"""WITH wm AS (SELECT max(epoch_us(ts)) // 1000 - 3600000 AS wm_ms
          |            FROM events)
          |SELECT epoch_us(ts) // $DayUs AS day_bucket, event_type,
          |  count(*) AS n_events,
          |  CAST(sum(CAST(round(value*100,0) AS BIGINT)) AS DOUBLE)/100.0 AS sum_value
          |FROM events, wm
          |GROUP BY 1, 2, wm.wm_ms
          |HAVING (day_bucket + 1) * ${DayUs / 1000} <= wm.wm_ms""".stripMargin),
    // retire-only emission: the sink holds exactly the users whose
    // last event predates the final watermark (floor(max µs / 1000),
    // delay 0) by >= the TTL — the engine's `expiry <= watermark`
    // comparison, mirrored in integer ms arithmetic
    "q101_feature_ttl" ->
      (s"""WITH f AS (SELECT user_id, count(*) AS n_events,
          |  CAST(sum(CAST(round(value*100, 0) AS BIGINT)) AS BIGINT) AS sum_vc,
          |  max(epoch_us(ts)) AS last_us FROM events GROUP BY user_id),
          |wm AS (SELECT max(epoch_us(ts)) // 1000 AS wm_ms FROM events)
          |SELECT user_id, n_events, sum_vc, last_us FROM f, wm
          |WHERE last_us // 1000 + $RetireTtlMs <= wm_ms""".stripMargin),
    // one micro-batch => the emitted row per user IS the final feature
    // vector: the plain per-user batch aggregate
    "q98_stream_features" ->
      ("SELECT user_id, count(*) AS n_events, " +
        "CAST(sum(CAST(round(value*100, 0) AS BIGINT)) AS BIGINT) AS sum_vc, " +
        "max(epoch_us(ts)) AS last_us FROM events GROUP BY user_id"),
    // same exactly-once contract as q43; only the state lifecycle differs
    "q84_stream_dedup_ttl" ->
      ("SELECT event_type, count(*) AS n_events " +
        "FROM (SELECT DISTINCT * FROM events) GROUP BY event_type"),
    // stream/batch parity: the same oracle as the batch q75 funnel
    "q76_stream_funnel" -> Events.oracle("q75_funnel"),
    "q28_stream_window" -> Events.oracle("q26_window_agg"),
    "q31_stream_sessionize" -> streamSessionSql,
    "q174_stream_export" -> streamExportSql,
    "q37_stream_sink" -> graft.operators.Core.liveCellsSql,
    "q43_stream_dedup" ->
      ("SELECT event_type, count(*) AS n_events " +
        "FROM (SELECT DISTINCT * FROM events) GROUP BY event_type"),
    // stream/batch parity: same oracle as the batch q30 round trip
    "q48_stream_proto_source" -> graft.operators.Core.liveCellsSql,
    "q69_stream_stream_join" ->
      (s"""SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
          |       epoch_us(v.ts) AS view_us, epoch_us(p.ts) AS purchase_us,
          |       epoch_us(p.ts) - epoch_us(v.ts) AS gap_us
          |FROM events v JOIN events p
          |  ON v.user_id = p.user_id
          | AND v.event_type = 'view' AND p.event_type = 'purchase'
          | AND epoch_us(p.ts) >= epoch_us(v.ts)
          | AND epoch_us(p.ts) <= epoch_us(v.ts) + $AttributionGapUs""".stripMargin),
    // q69's matches plus one null row per matchless view, but ONLY for
    // views finalized by the last watermark. Two watermark nodes (one
    // per side) each track THEIR max event time; the query watermark is
    // their MIN (default multipleWatermarkPolicy), so the oracle takes
    // LEAST of the per-side maxima, minus the 1 h delay. A view's null
    // row emits when the join window's end lies strictly below it —
    // `window_end_ms < watermark_ms`, pinned by the boundary spec.
    // est_ok pinned TRUE (q134's contract): the engine computed the
    // verdict in-plan against the exact distinct count
    "q163_stream_sketch_ledger" ->
      ("""SELECT event_type, count(DISTINCT user_id) AS exact_n,
         |  CAST(1 AS INTEGER) AS est_ok
         |FROM events GROUP BY event_type""".stripMargin),
    // q69's pairs grouped by purchase hour; a window emits iff its end
    // lies at or below the final propagated watermark (q107's <=),
    // which is the MIN of the two sides' (max event ms - 1 h)
    "q162_stream_join_window" ->
      (s"""WITH j AS (
          |  SELECT epoch_us(p.ts) AS purchase_us,
          |         epoch_us(p.ts) - epoch_us(v.ts) AS gap_us
          |  FROM events v JOIN events p
          |    ON v.user_id = p.user_id
          |   AND v.event_type = 'view' AND p.event_type = 'purchase'
          |   AND epoch_us(p.ts) >= epoch_us(v.ts)
          |   AND epoch_us(p.ts) <= epoch_us(v.ts) + $AttributionGapUs),
          |wm AS (SELECT LEAST((SELECT max(epoch_us(ts)) // 1000 FROM events
          |                     WHERE event_type = 'view'),
          |                    (SELECT max(epoch_us(ts)) // 1000 FROM events
          |                     WHERE event_type = 'purchase'))
          |               - 3600000 AS wm_ms)
          |SELECT purchase_us // 3600000000 AS hour_bucket,
          |       CAST(count(*) AS BIGINT) AS n_conversions,
          |       CAST(sum(gap_us) AS BIGINT) AS sum_gap_us
          |FROM j, wm
          |GROUP BY 1, wm_ms
          |HAVING (hour_bucket + 1) * 3600000 <= wm_ms""".stripMargin),
    "q102_stream_outer_join" ->
      (s"""WITH v AS (SELECT user_id, event_id AS view_id, epoch_us(ts) AS view_us
          |           FROM events WHERE event_type = 'view'),
          |p AS (SELECT user_id AS user_p, event_id AS purchase_id,
          |             epoch_us(ts) AS purchase_us
          |      FROM events WHERE event_type = 'purchase'),
          |j AS (SELECT v.user_id, v.view_id, p.purchase_id, v.view_us,
          |             p.purchase_us
          |      FROM v LEFT JOIN p ON v.user_id = p.user_p
          |        AND p.purchase_us >= v.view_us
          |        AND p.purchase_us <= v.view_us + $AttributionGapUs),
          |wm AS (SELECT LEAST((SELECT max(epoch_us(ts)) // 1000 FROM events
          |                     WHERE event_type = 'view'),
          |                    (SELECT max(epoch_us(ts)) // 1000 FROM events
          |                     WHERE event_type = 'purchase'))
          |               - 3600000 AS wm_ms)
          |SELECT user_id, view_id, purchase_id, view_us, purchase_us,
          |       purchase_us - view_us AS gap_us
          |FROM j, wm
          |WHERE purchase_id IS NOT NULL
          |   OR view_us // 1000 + 3600000 < wm_ms""".stripMargin))
}
