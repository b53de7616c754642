package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Checkpoints._
import graft.sources.Tables

/** Relational operator coverage over the TPC-H-ish testdata: hash/broadcast
  * joins, grouped aggregation, window top-k, set ops, semi/anti joins.
  *
  * Exactness discipline for the DuckDB oracle: money/quantity doubles are
  * converted to integer cents / basis points first, aggregated exactly in
  * integer/decimal space, and only divided back to double at the very end —
  * identical IEEE ops on identical integers on both engines, so hashes
  * match bit-for-bit regardless of summation order. Floating-point sums of
  * doubles are never compared directly.
  */
object Relational {

  private def cents(c: Column): Column = round(c * 100, 0).cast("long")
  private def bps(c: Column): Column = round(c * 10000, 0).cast("long")

  /** TPC-H Q1-style pricing summary. One shuffle (groupBy on 2 low-card
    * cols); partial aggregation does the heavy lifting map-side, so at
    * 100 TB the shuffle is a few KB per task.
    */
  def aggPricing(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= expr("TIMESTAMP_NTZ '1998-09-02 00:00:00'"))
      .select(col("l_returnflag"), col("l_linestatus"),
        cents(col("l_quantity")).as("qc"),
        cents(col("l_extendedprice")).as("pc"),
        bps(col("l_discount")).as("dc"),
        bps(col("l_tax")).as("tc"))
      // u6 = extended*(1-disc) in 1e-6 $; u10 adds (1+tax) in 1e-10 $.
      .withColumn("u6", col("pc") * (lit(10000L) - col("dc")))
      .withColumn("u10", (col("u6") * (lit(10000L) + col("tc")))
        .cast("decimal(20,0)"))
    // u6 ≈ 1e11 per row; summed in decimal so per-group row counts of
    // 1e8+ (the 100 TB regime) widen instead of overflowing Long under
    // ANSI mode. DuckDB side is HUGEINT, also exact.
    l.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        (sum(col("qc")).cast("double") / 100.0).as("sum_qty"),
        (sum(col("pc")).cast("double") / 100.0).as("sum_base_price"),
        (sum(col("u6").cast("decimal(28,0)")).cast("double") / 1e6).as("sum_disc_price"),
        (sum(col("u10")).cast("double") / 1e10).as("sum_charge"),
        (sum(col("qc")).cast("double") / 100.0 / count(lit(1))).as("avg_qty"),
        (sum(col("pc")).cast("double") / 100.0 / count(lit(1))).as("avg_price"),
        (sum(col("dc")).cast("double") / 10000.0 / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
  }

  /** Revenue by nation for ASIA-region customers, 1995 orders:
    * fact⋈fact shuffle join on o_orderkey, dimensions (region⋈nation⋈
    * customer) explicitly broadcast — the 100 TB plan shape: one shuffle
    * of lineitem, zero shuffles for dims.
    */
  def joinRevenue(spark: SparkSession, dir: String): DataFrame = {
    val region = Tables.region(spark, dir).filter(col("r_name") === "ASIA")
    val nation = Tables.nation(spark, dir)
      .join(region, col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val cust = Tables.customer(spark, dir)
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name"))
    val orders = Tables.orders(spark, dir)
      .filter(year(col("o_orderdate")) === 1995)
      .select(col("o_orderkey"), col("o_custkey"))
    val line = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"),
        (cents(col("l_extendedprice")) *
          (lit(10000L) - bps(col("l_discount")))).as("u6"))
    line
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("n_name"))
      // u6 ≈ 1e11/row into ~5 nation groups: widen to decimal so 1e8+
      // rows per group don't overflow Long under ANSI (q08 discipline;
      // the DuckDB side is HUGEINT)
      .agg((sum(col("u6").cast("decimal(28,0)")).cast("double") / 1e6).as("revenue"),
        countDistinct(col("o_orderkey")).as("n_orders"),
        countDistinct(col("c_custkey")).as("n_custs"))
  }

  /** Top-3 orders by price per market segment — two-phase top-k: salted
    * local top-3 (bounded state per task) then a final window over the
    * ≤ 3·salts·segments survivors. A naive Window over 5 segment
    * partitions would funnel the whole table through 5 tasks at 100 TB.
    */
  def windowTopn(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    val o = Tables.orders(spark, dir)
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"), col("o_orderkey"),
        cents(col("o_totalprice")).as("price_c"))
    // local top-3 per (segment, salt): a sort-based window over the 320
    // salted partitions — spillable, unlike a collect_list whose
    // aggregation buffer would hold the whole group in memory
    val wLocal = Window.partitionBy(col("c_mktsegment"), col("salt"))
      .orderBy(col("price_c").desc, col("o_orderkey").asc)
    val local = o
      .withColumn("salt", pmod(col("o_orderkey"), lit(64)))
      .withColumn("lrn", row_number().over(wLocal))
      .filter(col("lrn") <= 3)
      .select(col("c_mktsegment"), col("price_c"), col("o_orderkey"))
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("price_c").desc, col("o_orderkey").asc)
    local.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("c_mktsegment"), col("rn"), col("o_orderkey"),
        (col("price_c").cast("double") / 100.0).as("o_totalprice"))
  }

  /** Set ops: customers ordering in 1994 vs 1995 — INTERSECT / EXCEPT /
    * UNION, each a shuffle on the (small, distinct) key set.
    */
  def setOps(spark: SparkSession, dir: String): DataFrame = {
    def custsIn(year0: Int): DataFrame =
      Tables.orders(spark, dir).filter(year(col("o_orderdate")) === year0)
        .select(col("o_custkey")).distinct()
    val a = custsIn(1994)
    val b = custsIn(1995)
    a.intersect(b).withColumn("tag", lit("both"))
      .unionAll(a.except(b).withColumn("tag", lit("1994_only")))
      .unionAll(b.except(a).withColumn("tag", lit("1995_only")))
  }

  /** Anti join: customers with no 1995 orders (left_anti, shuffle on
    * custkey; null-safe by construction). Restricted to one order year
    * so the result is non-empty at test SFs — every customer has some
    * order, but not every customer ordered in 1995.
    */
  def antiJoin(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .filter(year(col("o_orderdate")) === 1995)
      .select(col("o_custkey"))
    Tables.customer(spark, dir)
      .join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
  }

  /** Semi join: suppliers in nations that have at least one customer with
    * negative account balance (left_semi through a broadcast).
    */
  def semiJoin(spark: SparkSession, dir: String): DataFrame = {
    val debtNations = Tables.customer(spark, dir)
      .filter(col("c_acctbal") < 0)
      .select(col("c_nationkey")).distinct()
    Tables.supplier(spark, dir)
      .join(broadcast(debtNations),
        col("s_nationkey") === col("c_nationkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"))
  }

  /** q38: ROLLUP aggregation — subtotals per (returnflag, linestatus),
    * per returnflag, and grand total, disambiguated by `grouping()`
    * flags. Same single-shuffle shape as q08: rollup adds the
    * higher-level groups in the same partial-aggregation pass, not
    * extra shuffles.
    */
  def rollupPricing(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_linestatus"),
        cents(col("l_quantity")).as("qc"))
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping(col("l_returnflag")).cast("int").as("g_flag"),
        grouping(col("l_linestatus")).cast("int").as("g_status"),
        (sum(col("qc")).cast("double") / 100.0).as("sum_qty"),
        count(lit(1)).as("n_rows"))

  /** q106: GROUPING SETS — the general form behind q38's rollup: an
    * EXPLICIT set list ((status, priority), (status), ()) that skips
    * the (priority)-only level a cube would add and the strict
    * suffix-nesting a rollup requires. Catalyst plans it as ONE Expand
    * (3 replicas per row) feeding the same single partial-aggregating
    * shuffle as q08 — subtotal levels cost map-side row copies, never
    * extra passes over the table, which is why a 100 TB reporting
    * rollup is one job, not one per level. `grouping()` flags
    * disambiguate real NULL dimension values from subtotal rows.
    */
  def groupingSetsPricing(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderstatus"), col("o_orderpriority"),
        cents(col("o_totalprice")).as("pc"))
      .groupingSets(
        Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
          Seq(col("o_orderstatus")), Seq()),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping(col("o_orderstatus")).cast("int").as("g_status"),
        grouping(col("o_orderpriority")).cast("int").as("g_priority"),
        count(lit(1)).as("n_orders"),
        (sum(col("pc")).cast("double") / 100.0).as("sum_price"))

  private val DayUs = 86400000000L
  private val RollWindowUs = 7 * DayUs // trailing 7 days, inclusive

  /** q108: ROLLING RANGE-FRAME FEATURES — per customer, the trailing
    * 7-day order count and spend AT EACH ORDER: `RANGE BETWEEN
    * (7d−1µs) PRECEDING AND CURRENT ROW` over event-time µs. This is
    * the point-in-time feature shape (no future leakage: each row sees
    * only its past) that rolling-aggregate feature engineering needs;
    * the row-frame windows elsewhere (q27's lag, q55's rank) count
    * ROWS, while a RANGE frame bounds by TIME — same-instant ties all
    * join the frame, so the result is deterministic without an
    * intra-tie order.
    *
    * Scale: one hash shuffle on the customer key, sort within
    * partition by time; frame state is the trailing window's rows per
    * customer — bounded by order rate × 7 days, independent of
    * history length. Exact integer cents.
    */
  def rollingFeatures(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("us"))
      .rangeBetween(-(RollWindowUs - 1), Window.currentRow)
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("us"),
        cents(col("o_totalprice")).as("pc"))
      .withColumn("n_7d", count(lit(1)).over(w))
      .withColumn("spend_7d",
        (sum(col("pc")).over(w).cast("double") / 100.0))
      .select(col("o_orderkey"), col("o_custkey"), col("us"),
        col("n_7d"), col("spend_7d"))
  }

  /** q39: FULL OUTER join — negative-balance customers vs 1995 order
    * activity; either side may be absent. Shuffle on custkey both
    * sides (a full outer can't broadcast), pre-aggregated right side.
    */
  def fullOuter(spark: SparkSession, dir: String): DataFrame = {
    val debt = Tables.customer(spark, dir)
      .filter(col("c_acctbal") < 0)
      .select(col("c_custkey"), col("c_name"))
    val o95 = Tables.orders(spark, dir)
      .filter(year(col("o_orderdate")) === 1995)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        (sum(cents(col("o_totalprice"))).cast("double") / 100.0)
          .as("spend_1995"))
    debt.join(o95, col("c_custkey") === col("o_custkey"), "full_outer")
      .select(coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
        col("c_name"), col("n_orders"), col("spend_1995"))
  }

  /** Drop `name` and its warehouse location: a fresh in-memory catalog
    * doesn't know tables a previous JVM wrote, but their directories
    * persist — CREATE would fail with LOCATION_ALREADY_EXISTS.
    */
  private def resetTable(spark: SparkSession, name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val root = if (wh.startsWith("file:"))
      new java.io.File(new java.net.URI(wh).getPath)
    else new java.io.File(wh)
    Scratch.delete(new java.io.File(root, name))
  }

  /** The q44 tables: deterministic per-sf names, written once per
    * (context, sf dir) — bench runs each query twice — and overwritten
    * on first use, so stale warehouse content from a previous run
    * can't leak in and nothing accumulates. The context scoping
    * matters here: a fresh context's in-memory catalog does not know
    * the tables an earlier one wrote, so it must rebuild them. Names
    * derive from dir.hashCode — two dirs colliding would rebuild each
    * other's tables, acceptable for the single-warehouse bench this
    * fixture exists for.
    */
  private[graft] val bucketedFixture = SessionFixture("bucketed_tables") {
    (spark, dir) =>
      val tag = (dir.hashCode & 0x7fffffff).toString
      val lt = s"lineitem_bkt_$tag"
      val ot = s"orders_bkt_$tag"
      resetTable(spark, lt)
      resetTable(spark, ot)
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), cents(col("l_extendedprice")).as("pc"))
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable(lt)
      Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderpriority"))
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable(ot)
      (lt, ot)
  }

  /** q44: BUCKETED co-located join — both sides written `bucketBy` the
    * join key, so the sort-merge join needs NO exchange on either side
    * (PlanSpec asserts it): the join-key shuffle is paid once at write
    * time and amortised over every later join, the bucketing strategy
    * the 100 TB fact⋈fact case calls for. The only exchange left in
    * the plan is the final 5-group rollup of the join output.
    */
  def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val (lt, ot) = bucketedFixture(spark, dir)
    spark.table(lt)
      .join(spark.table(ot).hint("merge"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        (sum(col("pc").cast("decimal(28,0)")).cast("double") / 100.0)
          .as("sum_price"))
  }

  /** The q112 join under CONSTRUCTED skew — 3 of every 4 lineitem rows
    * collapse onto one hot order key (the 100 TB "one customer is 75%
    * of traffic" shape), then an ordinary key join to orders. Split
    * out un-executed so the spec can run it under AQE's skew-join
    * thresholds and assert the hot partition was actually split
    * (`skew=true` in the adaptive plan).
    */
  private[graft] def skewJoinPlan(spark: SparkSession, dir: String): DataFrame = {
    // the round-robin repartition stands in for the many-mapper stage
    // a real table always has: AQE splits a skewed reduce partition
    // along mapper boundaries, and the toy file is ONE row group = one
    // mapper = nothing to split without it
    val hot = Tables.lineitem(spark, dir)
      .select(when(col("l_orderkey") % 4 =!= 0, lit(0L))
          .otherwise(col("l_orderkey")).as("k"),
        cents(col("l_quantity")).as("qc"))
      .repartition(8)
    val dim = Tables.orders(spark, dir)
      .select(col("o_orderkey").as("k"), col("o_orderpriority"))
    hot.join(dim.hint("shuffle_hash"), "k")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        (sum(col("qc")).cast("double") / 100.0).as("sum_qty"))
  }

  /** Run `f` with AQE's skew-join knobs scoped to toy scale (and the
    * broadcast threshold off so the join actually shuffles), restoring
    * the session confs after. AQE reads these at EXECUTION, so the
    * query materializes inside the scope (eager checkpoint) — the
    * returned frame replays from the already-executed result.
    */
  private[graft] def withSkewConfs[T](spark: SparkSession)(f: => T): T =
    withScopedConfs(spark, Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1KB"))(f)

  /** q112: AQE SKEW-JOIN — q72's problem (one hot key dominating a
    * shuffle join) solved by the ENGINE instead of by hand: adaptive
    * execution detects the oversized partition at runtime and splits
    * it across tasks, replicating the matching dim rows — no salting
    * column, no plan rewrite. q72 remains the explicit-salt form (the
    * portable fallback when AQE is off or the skew is in an agg);
    * this is the production default on a 1000-executor cluster, where
    * the thresholds are their real defaults and the split is
    * automatic. The skew knobs only exist to reproduce "oversized" at
    * toy scale; the spec asserts the split actually happened
    * (`skew=true`), and the oracle replays the hot-key mapping.
    */
  def aqeSkewJoin(spark: SparkSession, dir: String): DataFrame =
    withSkewConfs(spark) {
      skewJoinPlan(spark, dir).cp(eager = true)
    }

  /** q55: GLOBAL RANK — total-order ranking without the scale-killer
    * single-partition `Window.orderBy`: range-repartition on the sort
    * key, per-partition local indexes (one pass over each sorted
    * partition — the canonical zipWithIndex pattern, genuine
    * per-partition imperative logic), then partition row-counts →
    * cumulative offsets (a window over ≤ numPartitions rows) broadcast
    * back. rank = offset(pid) + local index.
    *
    * Scale shape: ONE range shuffle of the data; the offsets side is
    * tiny metadata. RangePartitioner boundaries come from sampling, but
    * the emitted rank depends only on the total order — (price desc,
    * orderkey, linenumber) is strict — so the result is deterministic
    * regardless of where the sampled boundaries land. This is how a
    * 100 TB sorted export (shard files + a manifest of offsets)
    * actually gets written.
    */
  def globalRank(spark: SparkSession, dir: String): DataFrame =
    withGlobalRank(
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice")),
      Seq(col("l_extendedprice").desc, col("l_orderkey").asc,
        col("l_linenumber").asc))

  /** The reusable two-phase ranker behind q55 (and q56's quantiles):
    * appends `rnk` = 1-based position of each row in the total order
    * given by `sortKeys` (which must be a STRICT order for determinism).
    *
    * The per-partition position comes from `monotonically_increasing_id`
    * — its value is `(partitionId << 33) + positionInPartition`, i.e.
    * exactly the (pid, local index) pair the two-phase rank needs, but
    * produced inside whole-stage codegen with zero per-row conversion
    * (an earlier `mapPartitions` + row-encoder version of this spent
    * 10+ s at sf0.1 on encode/decode alone). The id itself is
    * partitioning-dependent; the emitted rank depends only on the
    * strict total order, so the OUTPUT is deterministic.
    */
  private[operators] def withGlobalRank(df: DataFrame,
      sortKeys: Seq[Column]): DataFrame = {
    val withId = df
      .repartitionByRange(sortKeys: _*)
      .sortWithinPartitions(sortKeys: _*)
      .withColumn("mid", monotonically_increasing_id())
      // both consumers (offset counts + the ranked join) must see the
      // SAME materialisation — and the sort pays once, not twice
      .cp()
      .withColumn("pid", shiftrightunsigned(col("mid"), 33))
      .withColumn("idx", col("mid").bitwiseAND(lit((1L << 33) - 1)))
    val offsets = withId.groupBy(col("pid"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("offset", coalesce(sum(col("cnt")).over(
        Window.orderBy(col("pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("pid"), col("offset"))
    withId.join(broadcast(offsets), "pid")
      .withColumn("rnk", col("offset") + col("idx") + 1)
      .drop("mid", "pid", "idx", "offset")
  }

  /** Run `f` with a set of session confs scoped to the call, restoring
    * (or unsetting) each after. Shared by the runtime-replan demos
    * ([[aqeSkewJoin]], [[bloomJoin]]) whose knobs only exist to
    * reproduce a big-data planning condition at toy scale; callers
    * materialize inside the scope (eager checkpoint) because the
    * optimizer/AQE reads the confs at execution, not at plan build.
    */
  private[graft] def withScopedConfs[T](spark: SparkSession,
      knobs: Seq[(String, String)])(f: => T): T = {
    val prev = knobs.map { case (k, _) => k -> spark.conf.getOption(k) }
    knobs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** q118: SCD TYPE-2 INTERVAL BUILD — compress each customer's order-
    * status history into validity intervals: change detection by
    * `lag()`, run numbering by a running sum of change flags (gaps-and-
    * islands), one row per run, and `lead()` for the exclusive upper
    * bound (NULL = current run). This is the temporal-dimension build
    * every warehouse derives from a change history (cf. the sink's q81
    * change feed — this operator is what a consumer DOES with one).
    *
    * Scale shape: ONE hash shuffle on the customer key; the lag/run-sum
    * windows and the run grouping all live inside that partitioning
    * (the run table is runs-sized, strictly smaller than the input),
    * and the final lead() window rides the same key. Strict intra-key
    * order (us, o_orderkey) makes every window deterministic.
    */
  def scd2Intervals(spark: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy(col("o_custkey"))
      .orderBy(col("us"), col("o_orderkey"))
    val runs = Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderstatus"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("us"),
        col("o_orderkey"))
      .withColumn("chg",
        when(lag(col("o_orderstatus"), 1).over(wOrd).isNull ||
          lag(col("o_orderstatus"), 1).over(wOrd) =!= col("o_orderstatus"),
          1L).otherwise(0L))
      .withColumn("run_id", sum(col("chg")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val wSeq = Window.partitionBy(col("o_custkey")).orderBy(col("run_id"))
    runs.groupBy(col("o_custkey"), col("run_id"))
      .agg(min(col("o_orderstatus")).as("o_orderstatus"),
        min(col("us")).as("valid_from_us"),
        count(lit(1)).as("n_orders"))
      .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(wSeq))
      .select(col("o_custkey"), col("run_id"), col("o_orderstatus"),
        col("valid_from_us"), col("valid_to_us"), col("n_orders"))
  }

  /** q119: CUBE aggregation — every subset of (status, priority), i.e.
    * the full 2^d lattice the q38 rollup (suffix-nested) and q106
    * grouping sets (explicit list) don't produce. Same single-shuffle
    * Expand shape: 4 replicas per row into one partial-aggregating
    * exchange, `grouping()` flags disambiguating subtotal rows.
    */
  def cubePricing(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderstatus"), col("o_orderpriority"),
        cents(col("o_totalprice")).as("pc"))
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping(col("o_orderstatus")).cast("int").as("g_status"),
        grouping(col("o_orderpriority")).cast("int").as("g_priority"),
        count(lit(1)).as("n_orders"),
        (sum(col("pc")).cast("double") / 100.0).as("sum_price"))

  /** The q120 join split out un-executed so the spec can assert the
    * injected runtime filter: a selective dim filter (urgent 1995
    * orders) joined to the full lineitem scan. Without a runtime
    * filter the fact side shuffles EVERY row to the join just to drop
    * ~97% of them; with it, the dim side's join keys feed a bloom
    * filter evaluated inside the fact scan, so non-matching rows die
    * before the exchange.
    */
  private[graft] def bloomJoinPlan(spark: SparkSession, dir: String): DataFrame = {
    val sel = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT" &&
        year(col("o_orderdate")) === 1995)
      .select(col("o_orderkey"), col("o_orderstatus"))
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), cents(col("l_extendedprice")).as("pc"))
      .join(sel, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_items"),
        (sum(col("pc").cast("decimal(28,0)")).cast("double") / 100.0)
          .as("sum_price"))
  }

  /** Scope the runtime-bloom knobs to toy scale: broadcast off (the
    * rule targets shuffle joins — at 100 TB this dim is past the
    * broadcast threshold anyway) and the application-side size floor
    * dropped to 0 (its 10 GB default says "don't bother filtering a
    * small scan", which at sf0.01 is every scan).
    */
  private[graft] def withBloomConfs[T](spark: SparkSession)(f: => T): T =
    withScopedConfs(spark, Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0"))(f)

  /** q120: RUNTIME BLOOM-FILTER PRUNED JOIN — the engine-injected
    * semi-join reduction for a selective fact⋈dim join that can't
    * broadcast: Catalyst's InjectRuntimeFilter plants a
    * `bloom_filter_might_contain(agg(dim keys))` predicate on the fact
    * side (the spec asserts it), so fact rows without a join partner
    * are dropped AT THE SCAN instead of surviving to the shuffle. The
    * 100 TB posture: this is DPP's row-level sibling for non-partition
    * join keys — the dominant shuffle shrinks by the dim filter's
    * selectivity with zero query rewrite. The oracle replays the plain
    * join (the filter only prunes non-matches, never changes rows).
    */
  def bloomJoin(spark: SparkSession, dir: String): DataFrame =
    withBloomConfs(spark) {
      bloomJoinPlan(spark, dir).cp(eager = true)
    }

  /** q128: DATA-QUALITY EXPECTATION REPORT — the deequ-style gate a
    * pipeline runs before promoting a corpus drop: completeness
    * (null keys), uniqueness (PK dups), referential integrity (orphan
    * FKs, both directions of the star), and domain/range contracts
    * (discount in [0,1], ship dates in the schema's era), emitted as
    * one (check, violations, passed) report.
    *
    * Scale shape: the row-local contracts fuse into ONE conditional
    * aggregate per table (no per-check passes); each referential check
    * is a left-anti join on the FK (shuffle-or-broadcast as the dim
    * side warrants). The unions stitch 1-row frames — plan width, not
    * data volume.
    */
  def dqReport(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val l = Tables.lineitem(spark, dir)
    val c = Tables.customer(spark, dir)
    def report(name: String, violations: DataFrame): DataFrame =
      violations.select(lit(name).as("check"),
        col("v").cast("long").as("violations"),
        (col("v") === 0).cast("int").as("passed"))
    val orders1 = o.agg(
      sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("null_custkey"),
      (count(lit(1)) - countDistinct(col("o_orderkey"))).as("pk_dups"))
      .cp() // one pass feeds both 1-row reports
    val line1 = l.agg(
      sum(when(col("l_discount") < 0 || col("l_discount") > 1, 1L)
        .otherwise(0L)).as("bad_discount"),
      sum(when(col("l_shipdate") < expr("TIMESTAMP_NTZ '1992-01-01 00:00:00'") ||
        col("l_shipdate") >= expr("TIMESTAMP_NTZ '1999-01-01 00:00:00'"), 1L)
        .otherwise(0L)).as("bad_shipdate"),
      count(lit(1)).as("n_rows"))
      .cp()
    val orphanLine = l.select(col("l_orderkey"))
      .join(o.select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("v"))
    val orphanOrder = o.select(col("o_custkey"))
      .join(broadcast(c.select(col("c_custkey"))),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("v"))
    report("orders_custkey_complete", orders1.select(col("null_custkey").as("v")))
      .unionAll(report("orders_orderkey_unique", orders1.select(col("pk_dups").as("v"))))
      .unionAll(report("lineitem_discount_in_range", line1.select(col("bad_discount").as("v"))))
      .unionAll(report("lineitem_shipdate_in_era", line1.select(col("bad_shipdate").as("v"))))
      .unionAll(report("lineitem_nonempty",
        line1.select(when(col("n_rows") === 0, 1L).otherwise(0L).as("v"))))
      .unionAll(report("lineitem_order_fk", orphanLine))
      .unionAll(report("orders_customer_fk", orphanOrder))
  }

  private val AqpRate = 16L // 1-in-16 deterministic hash sample

  /** q135: APPROXIMATE QUERY PROCESSING by DETERMINISTIC SAMPLE — the
    * dashboard estimate: per-priority revenue from a 1/[[AqpRate]]
    * hash sample of lineitem, scaled up, reported NEXT TO the exact
    * value and the realized relative error. No `rand()`/TABLESAMPLE:
    * the sample is a hash predicate on the row identity, so it is
    * reproducible, append-stable, and — unlike a bound-check trick —
    * the estimate itself is engine-portable (the oracle computes the
    * identical sample). At 100 TB the sample is what a dashboard
    * SCANS: materialize `bucket = 0` once (1/16 the bytes) and every
    * exploratory aggregate runs on it; the exact side here exists to
    * report the realized error the way q90/q134 check their sketches.
    */
  def aqpSample(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .join(broadcast(Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderpriority"))),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority"), cents(col("l_extendedprice")).as("pc"),
        pmod(graft.functions.HashOps.md5_prefix60(
          concat(lit("aqp:"), col("l_orderkey").cast("string"),
            lit(":"), col("l_linenumber").cast("string"))),
          lit(AqpRate)).as("bucket"))
    l.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("pc")).as("exact_c"),
        sum(when(col("bucket") === 0, 1L).otherwise(0L)).as("n_sampled"),
        (sum(when(col("bucket") === 0, col("pc")).otherwise(0L)) * AqpRate)
          .as("est_c"))
      .select(col("o_orderpriority"), col("n_rows"), col("n_sampled"),
        (col("exact_c").cast("double") / 100.0).as("exact_sum"),
        (col("est_c").cast("double") / 100.0).as("est_sum"),
        (abs(col("est_c") - col("exact_c")).cast("double") /
          nullif(col("exact_c").cast("double"), lit(0.0))).as("rel_err"))
  }

  /** Salt fan-out for [[saltedJoin]] — each hot key's rows spread over
    * this many shuffle groups; the small side replicates this many ×.
    */
  val JoinSalts = 16

  /** q72: SKEW-SALTED JOIN — the a-priori hot-key mitigation for a
    * fact⋈dim join whose key histogram is too skewed for a plain hash
    * join (one hot key = one shuffle group = one straggler task at
    * 100 TB). The big side derives a salt in [0, [[JoinSalts]]) from a
    * NON-key attribute, so a hot key's rows spread across
    * [[JoinSalts]] groups; the small side replicates each row to every
    * salt with a compact `explode(sequence(...))` — an S× blowup of
    * the SMALL side only. Joining on (key, salt) returns exactly the
    * plain join's rows (each big row matches exactly one replica —
    * the oracle is the unsalted join), but no shuffle group ever
    * holds more than ~1/S of a hot key. AQE's skew-join split repairs
    * sort-merge stragglers after the fact; salting is the plan-shape
    * fix that also spreads the hash AGGREGATION that follows the
    * join, and works for keyed state streaming joins where AQE can't.
    * The `shuffle_hash` hint keeps the demo on the shuffled path a
    * genuinely non-broadcastable medium dim would take.
    */
  def saltedJoin(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), cents(col("l_quantity")).as("qc"),
        pmod(xxhash64(col("l_linenumber"), col("l_partkey")),
          lit(JoinSalts.toLong)).as("salt"))
    val small = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"),
        explode(sequence(lit(0L), lit(JoinSalts - 1L))).as("salt"))
    big.join(small.hint("shuffle_hash"),
        big("l_orderkey") === small("o_orderkey") &&
          big("salt") === small("salt"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        (sum(col("qc")).cast("double") / 100.0).as("sum_qty"))
  }

  /** q92: DATA PROFILING — the ANALYZE-style one-pass table profile a
    * pipeline runs before trusting a new corpus drop: per column, the
    * null count, exact distinct count, and min/max (computed in the
    * column's native type, then rendered as strings so one long-form
    * schema fits every column). All five columns profile in ONE
    * aggregation (Spark plans the multi-distinct via Expand — a 5×
    * row blowup into a single shuffle with map-side partials), then
    * the 1-row wide result explodes to long form row-locally.
    *
    * Scale: Expand's blowup is the exact-distinct price; at 100 TB a
    * deployment swaps `countDistinct` for q90's bound-checked
    * `approx_count_distinct` per column — same plan shape minus the
    * Expand — which is why the two queries sit side by side.
    */
  def profile(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val aggs = cols.flatMap { c =>
      Seq(sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nn_$c"),
        countDistinct(col(c)).as(s"nd_$c"),
        min(col(c)).cast("string").as(s"mn_$c"),
        max(col(c)).cast("string").as(s"mx_$c"))
    } :+ count(lit(1)).as("n_rows")
    d.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(cols.map(c =>
        struct(lit(c).as("column"), col("n_rows"),
          col(s"nn_$c").as("n_nulls"), col(s"nd_$c").as("n_distinct"),
          col(s"mn_$c").as("min_value"), col(s"mx_$c").as("max_value"))): _*))
        .as("s"))
      .select(col("s.column"), col("s.n_rows"), col("s.n_nulls"),
        col("s.n_distinct"), col("s.min_value"), col("s.max_value"))
  }

  private val PrIters = 3 // fixed power iterations (unrolled in the oracle)

  /** q149: PAGERANK over the co-purchase graph — parts are nodes,
    * every within-order part pair is a (directed, symmetric) edge,
    * and [[PrIters]] damped power iterations (d = 0.85) rank parts
    * by network centrality: the "which items anchor the catalog"
    * signal a recommender or curation pipeline derives from
    * transaction logs. All arithmetic is integer micro-units —
    * rank starts at 10⁶, each step emits
    * `150000 + Σ (r·850) DIV (1000·deg)` — so the fixpoint trajectory
    * is bit-identical across engines (float PageRank would drift with
    * summation order) and the oracle unrolls the same three steps as
    * chained CTEs.
    *
    * Scale shape: edge generation is an equi-join on the order key
    * (per-order fan-out is basket-size-bounded, never all-pairs),
    * built once as the shared consolidated `(src, dst, mult)` graph
    * ([[coPurchaseFixture]]) so iterations run over distinct pairs,
    * not parallel multi-edges; each iteration is ONE join of the edge
    * list against the node-sized rank table plus ONE dst-keyed
    * re-aggregation with map-side partials — the canonical
    * distributed PageRank step.
    * Edges and degrees are localCheckpointed once (built once, read
    * every iteration — the persist every Pregel implementation does);
    * iteration count is FIXED, so lineage stays bounded without
    * iterative re-checkpointing. A hot node (q112's skew story) fans
    * its in-edges across partitions; the partial aggregation absorbs
    * them before the shuffle.
    */
  /** Co-purchase multi-edges: all ordered within-order part pairs with
    * unequal values — ONE orderkey shuffle + a row-local basket pair
    * explode, multiset-identical to the naive lineitem self-join (the
    * oracles still express it as the join) but without shuffling the
    * fact table twice. Baskets are order-line-bounded, so the pair
    * fan-out is row-local and capped — the market-basket discipline.
    */
  private def coPurchaseEdges(li: DataFrame): DataFrame =
    li.groupBy(col("l_orderkey"))
      .agg(collect_list(col("l_partkey")).as("basket"))
      .select(explode(flatten(transform(col("basket"), x =>
        transform(filter(col("basket"), y => y =!= x), y =>
          struct(x.as("src"), y.as("dst")))))).as("p"))
      .select(col("p.src").as("src"), col("p.dst").as("dst"))

  /** The CONSOLIDATED co-purchase graph — `(src, dst, mult)`, one row
    * per distinct node pair with its parallel-edge multiplicity —
    * built ONCE per (context, sf dir) and shared by q149 and q150
    * (the [[SimSearch]] centroid-fixture discipline applied to a
    * derived edge list: both graph queries used to re-shuffle the
    * fact table into identical multi-edges independently).
    * Consolidation is exact for both consumers: q149's per-edge floor
    * `(r·850) DIV (1000·deg)` is constant across parallel edges of a
    * pair, so `mult · floor` replaces the per-edge sum bit-for-bit,
    * and q150 only needs the distinct pairs. At 100 TB this is also
    * the right on-disk shape — the multi-edge list is
    * Σ basket² rows, the consolidated one is bounded by the distinct
    * co-purchase pairs (catalog², typically far smaller and the thing
    * you'd actually persist).
    */
  private def coPurchaseEdgesPlan(spark: SparkSession,
      dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"))
    coPurchaseEdges(li)
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("mult"))
  }
  private[graft] val coPurchaseFixture = SessionFixture("copurchase_edges") {
    (spark, dir) => coPurchaseEdgesPlan(spark, dir).cp(eager = true)
  }

  /** Audit hook (see [[SimSearch.fixturePlans]]): the un-checkpointed
    * consolidated-edge build for SCALE.md's `fixture:*` rows.
    */
  private[graft] def fixturePlans(spark: SparkSession,
      dir: String): Seq[(String, DataFrame)] =
    Seq("fixture:copurchase_edges" -> coPurchaseEdgesPlan(spark, dir))

  def pagerank(spark: SparkSession, dir: String): DataFrame = {
    val edges = coPurchaseFixture(spark, dir)
    val deg = edges.groupBy(col("src")).agg(sum(col("mult")).as("deg"))
    val edgeDeg = edges.join(deg, "src").cp()
    var r = deg.select(col("src").as("id"), lit(1000000L).as("r"))
    (1 to PrIters).foreach { _ =>
      r = edgeDeg.join(r, col("src") === col("id"))
        .groupBy(col("dst"))
        .agg(sum(expr("mult * ((r * 850) DIV (1000 * deg))")).as("contrib"))
        .select(col("dst").as("id"), (lit(150000L) + col("contrib")).as("r"))
    }
    r.join(deg.select(col("src").as("id"), col("deg")), "id")
      .select(col("id").as("p_partkey"), col("deg"),
        col("r").as("rank_micro"))
  }

  /** q150: TRIANGLE COUNTING over the co-purchase graph (q149's node/
    * edge derivation, deduplicated to a simple undirected graph) —
    * per-part triangle participation, the local-clustering signal
    * community detection and link-spam audits start from.
    *
    * The kernel is degree-ordered compact-forward (Schank & Wagner;
    * the shape every distributed triangle paper from Cohen's MapReduce
    * version onward uses): orient each edge from the lower-(degree,
    * id) endpoint to the higher, build each node's ORIENTED adjacency
    * array, and close triangles per edge by intersecting the two
    * endpoints' arrays — every triangle {s,t,w} with rank s < t < w
    * surfaces exactly once, at its (s,t) edge (no triple counting, no
    * dedup pass). Orientation is what makes this scale twice over: a
    * hot hub with degree d keeps only its ORIENTED out-neighbors,
    * which degree-ordering bounds by O(√m) on any graph (arboricity),
    * so adjacency arrays are bounded (no mega-row) AND the Σ outdeg²
    * wedge work stays inside a row-local array intersection instead
    * of materializing as join rows — an unoriented wedge self-join
    * would square the hub's degree through an exchange (q112's skew
    * lesson applied to graphs). Every join is an edge-sized equi-join
    * on a node key; nothing is ever all-pairs.
    *
    * The oracle is algorithm-INDEPENDENT: an id-ordered 3-way join
    * counts each triangle once with no orientation machinery, so hash
    * equality proves the oriented plan loses and invents nothing.
    */
  def triangles(spark: SparkSession, dir: String): DataFrame = {
    // the shared consolidated graph is already one row per (src, dst);
    // keeping src < dst picks each undirected pair's single survivor
    val und = coPurchaseFixture(spark, dir)
      .filter(col("src") < col("dst"))
      .select(col("src").as("u"), col("dst").as("v"))
    trianglesOf(und)
  }

  /** The q150 kernel over an explicit simple undirected edge frame
    * (`u` < `v`, deduplicated) — exposed for the crafted-graph spec.
    */
  private[graft] def trianglesOf(und: DataFrame): DataFrame = {
    val deg = und.select(explode(array(col("u"), col("v"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
      .cp() // read by orientation + final join
    val e = und
      .join(deg.select(col("id").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("id").as("v"), col("deg").as("dv")), "v")
      .select(when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("s"), col("v").as("t")))
        .otherwise(struct(col("v").as("s"), col("u").as("t"))).as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"))
      .cp() // edge pass + adjacency build
    // compact-forward proper: per-node ORIENTED adjacency arrays
    // (bounded at O(√m) elements by the degree orientation —
    // arboricity), then per-EDGE set intersection: for s→t, every
    // w ∈ adj⁺(s) ∩ adj⁺(t) closes the triangle {s,t,w} exactly once
    // (rank s < t < w). The Σ outdeg² wedge work happens INSIDE the
    // row-local array intersection — 82M candidate checks at sf0.1
    // never materialize as join rows; only real triangles explode.
    // Shuffles: one adjacency build + two edge-keyed equi-joins, all
    // edge-sized.
    val adj = e.groupBy(col("s")).agg(collect_list(col("t")).as("nb"))
      .cp() // probed from both edge ends
    val tri = e
      .join(adj.select(col("s"), col("nb").as("ns")), "s")
      .join(adj.select(col("s").as("t"), col("nb").as("nt")), "t")
      .select(col("s").as("a"), col("t").as("b"),
        explode(array_intersect(col("ns"), col("nt"))).as("c"))
    tri.select(explode(array(col("a"), col("b"), col("c")))
        .as("p_partkey"))
      .groupBy(col("p_partkey")).agg(count(lit(1)).as("n_triangles"))
      .join(deg.select(col("id").as("p_partkey"), col("deg")), "p_partkey")
      .select(col("p_partkey"), col("deg"), col("n_triangles"))
  }

  /** q169: NESTED EXAMPLE EXPORT — the denormalize-and-nest step that
    * turns relational facts into self-contained training examples
    * (one row = one order with its items inline, the JSONL shape
    * sequence models consume): items collect per order in
    * DETERMINISTIC comparator order (`sort_array` over
    * (linenumber, partkey)-led structs — q04's nest discipline on a
    * business entity), prices in exact cents, and the canonical `|`
    * item string both engines can hash. No example straddles rows, so
    * downstream shuffles/shards (q170) move whole examples.
    *
    * Scale: ONE order-key shuffle for the nest (map-side partials;
    * group state = one order's items, basket-bounded) and a broadcast
    * of nothing — the orders side joins post-aggregation on the same
    * key, so AQE keeps it exchange-free. At 100 TB this is the
    * canonical "export corpus" plan: nest ∝ fact table, never a
    * window, never a global sort.
    */
  def nestedExport(spark: SparkSession, dir: String): DataFrame = {
    val items = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"),
        struct(col("l_linenumber"), col("l_partkey"),
          expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)")
            .as("price_cents"),
          col("l_quantity").cast("long").as("qty")).as("it"))
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(col("it"))).as("items"))
      .select(col("l_orderkey").as("o_orderkey"),
        size(col("items")).cast("long").as("n_items"),
        aggregate(col("items"), lit(0L),
          (acc, x) => acc + x.getField("price_cents")).as("total_cents"),
        array_join(transform(col("items"), x =>
          concat_ws(":", x.getField("l_linenumber"),
            x.getField("l_partkey"), x.getField("price_cents"),
            x.getField("qty"))), "|").as("items_str"))
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
      .join(items, "o_orderkey")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q169_nested_export" -> nestedExport,
    "q150_triangles" -> triangles,
    "q149_pagerank" -> pagerank,
    "q135_aqp_sample" -> aqpSample,
    "q118_scd2_intervals" -> scd2Intervals,
    "q119_cube" -> cubePricing,
    "q120_bloom_join" -> bloomJoin,
    "q128_dq_report" -> dqReport,
    "q112_aqe_skew_join" -> aqeSkewJoin,
    "q108_rolling_features" -> rollingFeatures,
    "q106_grouping_sets" -> groupingSetsPricing,
    "q92_profile" -> profile,
    "q72_salted_join" -> saltedJoin,
    "q55_global_rank" -> globalRank,
    "q08_agg_pricing" -> aggPricing,
    "q38_rollup" -> rollupPricing,
    "q39_full_outer" -> fullOuter,
    "q44_bucketed_join" -> bucketedJoin,
    "q09_join_revenue" -> joinRevenue,
    "q10_window_topn" -> windowTopn,
    "q11_set_ops" -> setOps,
    "q12_anti_join" -> antiJoin,
    "q13_semi_join" -> semiJoin)

  private val profileSql = {
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    cols.map { c =>
      s"""SELECT '$c' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
         |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
         |  CAST(min($c) AS VARCHAR) AS min_value,
         |  CAST(max($c) AS VARCHAR) AS max_value
         |FROM documents""".stripMargin
    }.mkString("\nUNION ALL\n")
  }

  private val pagerankSql = {
    val steps = (1 to PrIters).map { k =>
      s"""r$k AS (SELECT e.dst id,
         |  150000 + CAST(sum((r.r * 850) // (1000 * d.deg)) AS BIGINT) r
         |  FROM e JOIN r${k - 1} r ON e.src = r.id
         |         JOIN deg d ON d.src = e.src
         |  GROUP BY e.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
       |e AS (SELECT a.l_partkey src, b.l_partkey dst FROM li a JOIN li b
       |      ON a.l_orderkey = b.l_orderkey
       |     AND a.l_partkey <> b.l_partkey),
       |deg AS (SELECT src, count(*) deg FROM e GROUP BY 1),
       |r0 AS (SELECT src id, CAST(1000000 AS BIGINT) r FROM deg),
       |$steps
       |SELECT r$PrIters.id p_partkey, CAST(d2.deg AS BIGINT) deg,
       |  r$PrIters.r rank_micro
       |FROM r$PrIters JOIN deg d2 ON d2.src = r$PrIters.id""".stripMargin
  }

  // algorithm-independent ground truth: id-ordered 3-way join, no
  // degree orientation — hash equality proves the oriented wedge plan
  // finds every triangle exactly once
  private val trianglesSql =
    """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e AS (SELECT DISTINCT a.l_partkey u, b.l_partkey v
      |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
      |        AND a.l_partkey < b.l_partkey),
      |t AS (SELECT ab.u a, ab.v b, bc.v c
      |      FROM e ab JOIN e bc ON ab.v = bc.u
      |        JOIN e ac ON ac.u = ab.u AND ac.v = bc.v),
      |n AS (SELECT unnest([a, b, c]) p_partkey FROM t),
      |d AS (SELECT p_partkey, CAST(count(*) AS BIGINT) deg FROM
      |      (SELECT unnest([u, v]) p_partkey FROM e) GROUP BY 1)
      |SELECT n.p_partkey, d.deg, CAST(count(*) AS BIGINT) AS n_triangles
      |FROM n JOIN d ON n.p_partkey = d.p_partkey
      |GROUP BY 1, 2""".stripMargin

  // sort_array's lexicographic struct order == the ORDER BY list; the
  // canonical item string makes the nest hash-comparable across engines
  private[operators] val nestedExportSql =
    """WITH it AS (SELECT l_orderkey, l_linenumber, l_partkey,
      |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) price_cents,
      |    CAST(l_quantity AS BIGINT) qty FROM lineitem),
      |n AS (SELECT l_orderkey AS o_orderkey,
      |    CAST(count(*) AS BIGINT) n_items,
      |    CAST(sum(price_cents) AS BIGINT) total_cents,
      |    string_agg(CAST(l_linenumber AS VARCHAR) || ':' ||
      |        CAST(l_partkey AS VARCHAR) || ':' ||
      |        CAST(price_cents AS VARCHAR) || ':' || CAST(qty AS VARCHAR),
      |      '|' ORDER BY l_linenumber, l_partkey, price_cents, qty)
      |      AS items_str
      |  FROM it GROUP BY l_orderkey)
      |SELECT o.o_orderkey, o.o_custkey, o.o_orderstatus,
      |  n.n_items, n.total_cents, n.items_str
      |FROM orders o JOIN n ON o.o_orderkey = n.o_orderkey""".stripMargin

  val oracle: Map[String, String] = Map(
    "q169_nested_export" -> nestedExportSql,
    "q150_triangles" -> trianglesSql,
    "q149_pagerank" -> pagerankSql,
    "q135_aqp_sample" ->
      (s"""WITH l AS (SELECT o_orderpriority,
          |        CAST(round(l_extendedprice*100,0) AS BIGINT) AS pc,
          |        ${graft.functions.Portable.sqlHash60(
            "'aqp:' || CAST(l_orderkey AS VARCHAR) || ':' || " +
              "CAST(l_linenumber AS VARCHAR)")}
          |          % $AqpRate AS bucket
          |      FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
          |g AS (SELECT o_orderpriority, count(*) AS n_rows,
          |        CAST(sum(pc) AS BIGINT) AS exact_c,
          |        CAST(sum(CASE WHEN bucket = 0 THEN 1 ELSE 0 END) AS BIGINT)
          |          AS n_sampled,
          |        CAST(sum(CASE WHEN bucket = 0 THEN pc ELSE 0 END)
          |          * $AqpRate AS BIGINT) AS est_c
          |      FROM l GROUP BY 1)
          |SELECT o_orderpriority, n_rows, n_sampled,
          |  CAST(exact_c AS DOUBLE)/100.0 AS exact_sum,
          |  CAST(est_c AS DOUBLE)/100.0 AS est_sum,
          |  CAST(abs(est_c - exact_c) AS DOUBLE) /
          |    nullif(CAST(exact_c AS DOUBLE), 0.0) AS rel_err
          |FROM g""".stripMargin),
    "q118_scd2_intervals" ->
      """WITH o AS (SELECT o_custkey, o_orderstatus,
        |             epoch_us(o_orderdate) AS us, o_orderkey FROM orders),
        |c AS (SELECT *, CASE WHEN lag(o_orderstatus) OVER w IS NULL
        |        OR lag(o_orderstatus) OVER w <> o_orderstatus
        |        THEN 1 ELSE 0 END AS chg
        |      FROM o WINDOW w AS (PARTITION BY o_custkey ORDER BY us, o_orderkey)),
        |r AS (SELECT *, CAST(sum(chg) OVER (PARTITION BY o_custkey
        |        ORDER BY us, o_orderkey
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |        AS run_id FROM c),
        |g AS (SELECT o_custkey, run_id, min(o_orderstatus) AS o_orderstatus,
        |        min(us) AS valid_from_us, count(*) AS n_orders
        |      FROM r GROUP BY o_custkey, run_id)
        |SELECT o_custkey, run_id, o_orderstatus, valid_from_us,
        |  lead(valid_from_us) OVER (PARTITION BY o_custkey ORDER BY run_id)
        |    AS valid_to_us,
        |  n_orders
        |FROM g""".stripMargin,
    "q119_cube" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
        |  CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice*100,0) AS BIGINT)) AS DOUBLE)/100.0 AS sum_price
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin,
    // the runtime filter only prunes non-matching rows — the oracle is
    // the plain selective join
    "q120_bloom_join" ->
      """SELECT o_orderstatus, count(*) AS n_items,
        |  CAST(sum(CAST(round(l_extendedprice*100,0) AS BIGINT)) AS DOUBLE)/100.0 AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |  AND date_part('year', o_orderdate) = 1995
        |GROUP BY o_orderstatus""".stripMargin,
    "q128_dq_report" ->
      """WITH checks(c, v) AS (
        |  SELECT 'orders_custkey_complete',
        |    (SELECT count(*) FROM orders WHERE o_custkey IS NULL)
        |  UNION ALL SELECT 'orders_orderkey_unique',
        |    (SELECT count(*) - count(DISTINCT o_orderkey) FROM orders)
        |  UNION ALL SELECT 'lineitem_discount_in_range',
        |    (SELECT count(*) FROM lineitem WHERE l_discount < 0 OR l_discount > 1)
        |  UNION ALL SELECT 'lineitem_shipdate_in_era',
        |    (SELECT count(*) FROM lineitem
        |     WHERE l_shipdate < TIMESTAMP '1992-01-01'
        |        OR l_shipdate >= TIMESTAMP '1999-01-01')
        |  UNION ALL SELECT 'lineitem_nonempty',
        |    (SELECT CASE WHEN count(*) = 0 THEN 1 ELSE 0 END FROM lineitem)
        |  UNION ALL SELECT 'lineitem_order_fk',
        |    (SELECT count(*) FROM lineitem
        |     WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey))
        |  UNION ALL SELECT 'orders_customer_fk',
        |    (SELECT count(*) FROM orders
        |     WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey)))
        |SELECT c AS "check", CAST(v AS BIGINT) AS violations,
        |  CAST(CASE WHEN v = 0 THEN 1 ELSE 0 END AS INTEGER) AS passed
        |FROM checks""".stripMargin,
    // replay the constructed hot-key mapping; the result is
    // skew-invariant (AQE only changes the execution, never the rows)
    "q112_aqe_skew_join" ->
      ("""WITH l AS (SELECT CASE WHEN l_orderkey % 4 <> 0 THEN 0
         |                       ELSE l_orderkey END AS k,
         |                  CAST(round(l_quantity*100,0) AS BIGINT) AS qc
         |           FROM lineitem)
         |SELECT o_orderpriority, count(*) AS n_items,
         |  CAST(sum(qc) AS DOUBLE)/100.0 AS sum_qty
         |FROM l JOIN orders ON k = o_orderkey
         |GROUP BY o_orderpriority""".stripMargin),
    "q108_rolling_features" ->
      (s"""SELECT o_orderkey, o_custkey, epoch_us(o_orderdate) AS us,
          |  count(*) OVER w AS n_7d,
          |  CAST(sum(CAST(round(o_totalprice*100,0) AS BIGINT)) OVER w AS DOUBLE)/100.0 AS spend_7d
          |FROM orders
          |WINDOW w AS (PARTITION BY o_custkey ORDER BY epoch_us(o_orderdate)
          |  RANGE BETWEEN ${RollWindowUs - 1} PRECEDING AND CURRENT ROW)""".stripMargin),
    "q106_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
        |  CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice*100,0) AS BIGINT)) AS DOUBLE)/100.0 AS sum_price
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        |                        (o_orderstatus), ())""".stripMargin,
    "q92_profile" -> profileSql,
    "q72_salted_join" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        |  CAST(sum(CAST(round(l_quantity*100,0) AS BIGINT)) AS DOUBLE)/100.0 AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin,
    "q55_global_rank" ->
      ("SELECT l_orderkey, l_linenumber, l_extendedprice, " +
        "row_number() OVER (ORDER BY l_extendedprice DESC, l_orderkey, " +
        "l_linenumber) AS rnk FROM lineitem"),
    "q44_bucketed_join" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        |  CAST(sum(CAST(round(l_extendedprice*100,0) AS BIGINT)) AS DOUBLE)/100.0 AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin,
    "q38_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
        |  CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status,
        |  CAST(sum(CAST(round(l_quantity*100,0) AS BIGINT)) AS DOUBLE)/100.0 AS sum_qty,
        |  count(*) AS n_rows
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    "q39_full_outer" ->
      """WITH debt AS (SELECT c_custkey, c_name FROM customer WHERE c_acctbal < 0),
        |o95 AS (SELECT o_custkey, count(*) AS n_orders,
        |          CAST(sum(CAST(round(o_totalprice*100,0) AS BIGINT)) AS DOUBLE)/100.0 AS spend_1995
        |        FROM orders WHERE date_part('year', o_orderdate) = 1995
        |        GROUP BY o_custkey)
        |SELECT coalesce(c_custkey, o_custkey) AS custkey, c_name, n_orders, spend_1995
        |FROM debt FULL JOIN o95 ON c_custkey = o_custkey""".stripMargin,
    "q08_agg_pricing" ->
      """WITH l AS (
        |  SELECT l_returnflag, l_linestatus,
        |         CAST(round(l_quantity*100,0) AS BIGINT) AS qc,
        |         CAST(round(l_extendedprice*100,0) AS BIGINT) AS pc,
        |         CAST(round(l_discount*10000,0) AS BIGINT) AS dc,
        |         CAST(round(l_tax*10000,0) AS BIGINT) AS tc
        |  FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |), u AS (
        |  SELECT *, pc*(10000-dc) AS u6,
        |         CAST(pc*(10000-dc) AS HUGEINT)*(10000+tc) AS u10 FROM l
        |)
        |SELECT l_returnflag, l_linestatus,
        |       CAST(sum(qc) AS DOUBLE)/100.0 AS sum_qty,
        |       CAST(sum(pc) AS DOUBLE)/100.0 AS sum_base_price,
        |       CAST(sum(u6) AS DOUBLE)/1e6 AS sum_disc_price,
        |       CAST(sum(u10) AS DOUBLE)/1e10 AS sum_charge,
        |       CAST(sum(qc) AS DOUBLE)/100.0/count(*) AS avg_qty,
        |       CAST(sum(pc) AS DOUBLE)/100.0/count(*) AS avg_price,
        |       CAST(sum(dc) AS DOUBLE)/10000.0/count(*) AS avg_disc,
        |       count(*) AS count_order
        |FROM u GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q09_join_revenue" ->
      """SELECT n_name,
        |       CAST(sum(CAST(round(l_extendedprice*100,0) AS BIGINT)
        |                 *(10000 - CAST(round(l_discount*10000,0) AS BIGINT))) AS DOUBLE)/1e6 AS revenue,
        |       count(DISTINCT o_orderkey) AS n_orders,
        |       count(DISTINCT c_custkey) AS n_custs
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA' AND date_part('year', o_orderdate) = 1995
        |GROUP BY n_name""".stripMargin,
    "q10_window_topn" ->
      """SELECT c_mktsegment, rn, o_orderkey,
        |       CAST(CAST(round(o_totalprice*100,0) AS BIGINT) AS DOUBLE)/100.0 AS o_totalprice
        |FROM (
        |  SELECT c_mktsegment, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY c_mktsegment
        |           ORDER BY round(o_totalprice*100,0) DESC, o_orderkey ASC) AS rn
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |) WHERE rn <= 3""".stripMargin,
    "q11_set_ops" ->
      """WITH a AS (SELECT DISTINCT o_custkey FROM orders WHERE date_part('year', o_orderdate) = 1994),
        |     b AS (SELECT DISTINCT o_custkey FROM orders WHERE date_part('year', o_orderdate) = 1995)
        |SELECT o_custkey, 'both' AS tag FROM ((SELECT * FROM a) INTERSECT (SELECT * FROM b))
        |UNION ALL
        |SELECT o_custkey, '1994_only' AS tag FROM ((SELECT * FROM a) EXCEPT (SELECT * FROM b))
        |UNION ALL
        |SELECT o_custkey, '1995_only' AS tag FROM ((SELECT * FROM b) EXCEPT (SELECT * FROM a))""".stripMargin,
    "q12_anti_join" ->
      ("SELECT c_custkey, c_name, c_mktsegment FROM customer " +
        "WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey " +
        "AND date_part('year', o_orderdate) = 1995)"),
    "q13_semi_join" ->
      ("SELECT s_suppkey, s_name, s_nationkey FROM supplier " +
        "WHERE EXISTS (SELECT 1 FROM customer WHERE c_nationkey = s_nationkey " +
        "AND c_acctbal < 0)"))
}
