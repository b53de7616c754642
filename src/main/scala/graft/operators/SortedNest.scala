package graft.operators

import java.util.Comparator

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, SortOrder, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{UnsafeArrayWriter, UnsafeRowWriter}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, HashPartitioning, Partitioning, RangePartitioning, SinglePartition, UnknownPartitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.graft.Shim
import org.apache.spark.sql.types.{ArrayType, BinaryType, BooleanType, LongType, StructField, StructType}

/** The per-key ordered nest (O10) as two physical operators over
  * sorted runs — the reference's fold, which never regroups: its
  * scanner yields each partition's cells contiguously in clustering
  * order and one pass builds each `Row` (PAPER.md "source → filter →
  * map → fold-into-sink").
  *
  *   - [[NestRunsExec]] (narrow): folds each run of ADJACENT same-key
  *     cells into one `(key, columns)` row holding the run's live cells
  *     in (name, value, write_time) order. No hash map and no sort of
  *     cells: cells that already arrive in clustering order cost one
  *     comparison each. A run with no live cell still emits its key.
  *   - [[NestMergeExec]] requires `ClusteredDistribution(key)` and
  *     `key ASC`, so `EnsureRequirements` plans one hash exchange and a
  *     sort of the nested rows (one per run, not per cell) — or neither,
  *     when the runs already arrive key-clustered and key-sorted. A key
  *     that came from one run passes through untouched; a key split
  *     across runs has its sorted cell lists merged.
  *
  * Input: the five columns (key, name, value, write_time, live) of
  * [[SortedNest.apply]]; output: (key, columns array&lt;struct&lt;name,
  * value, write_time&gt;&gt;), the schema `sort_array(collect_list(...))`
  * produced, with the same cells in the same order.
  */
object SortedNest {

  /** Nest `cells` = (key binary, name binary, value binary, write_time
    * long, live boolean). Fails on other column types, and on a
    * session built without [[graft.GraftExtensions]] (whose planner
    * strategy is the only way to run the nest).
    */
  def apply(cells: DataFrame): DataFrame = {
    val spark = cells.sparkSession
    require(Shim.plansWith(spark, NestStrategy),
      "the sorted-run nest needs a session built with " +
        "spark.sql.extensions=graft.GraftExtensions (see graft.Harness.session)")
    val child = Shim.logicalPlan(cells)
    val types = child.output.map(_.dataType)
    require(types == Seq(BinaryType, BinaryType, BinaryType, LongType, BooleanType),
      s"nest input must be (key, name, value: binary, write_time: long, " +
        s"live: boolean), got ${child.output.map(a => s"${a.name}: ${a.dataType}")}")
    val Seq(_, name, value, wt, _) = child.output
    val cellType = StructType(Seq(
      StructField("name", BinaryType, name.nullable),
      StructField("value", BinaryType, value.nullable),
      StructField("write_time", LongType, wt.nullable)))
    val columns = AttributeReference("columns",
      ArrayType(cellType, containsNull = false), nullable = false)()
    Shim.frame(spark, NestCells(columns, child))
  }
}

/** Logical node: output is the child's `key` attribute (so a
  * key-partitioned child stays key-partitioned) plus `columns`. It
  * needs every child column, so no pruning rule narrows its input.
  */
case class NestCells(columns: Attribute, child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = Seq(child.output.head, columns)
  override def references: AttributeSet = child.outputSet
  override protected def withNewChildInternal(c: LogicalPlan): NestCells = copy(child = c)
}

/** Plans [[NestCells]] as merge-over-runs; installed by
  * [[graft.GraftExtensions]].
  */
object NestStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case n: NestCells =>
      NestMergeExec(NestRunsExec(n.output, planLater(n.child))) :: Nil
    case _ => Nil
  }
}

/** Map side: one output row per run of adjacent same-key input rows. */
case class NestRunsExec(output: Seq[Attribute], child: SparkPlan) extends UnaryExecNode {
  private def keySet = AttributeSet(output.head)

  // rows only fold within a partition and keep their key, so key-only
  // partitioning and ordering survive; anything on the cell columns
  // does not
  override def outputPartitioning: Partitioning = child.outputPartitioning match {
    case p: HashPartitioning if p.references.subsetOf(keySet) => p
    case p: RangePartitioning if p.references.subsetOf(keySet) => p
    case SinglePartition => SinglePartition
    case p => UnknownPartitioning(p.numPartitions)
  }

  override def outputOrdering: Seq[SortOrder] =
    child.outputOrdering.takeWhile(_.references.subsetOf(keySet))

  override protected def doExecute(): RDD[InternalRow] =
    child.execute().mapPartitions(new RunFold(_))

  override protected def withNewChildInternal(c: SparkPlan): NestRunsExec = copy(child = c)
}

/** Reduce side: merges the runs of each key, arriving key-clustered and
  * key-sorted. `runsIn` counts nested rows received, `keysMerged` the
  * keys assembled from more than one run.
  */
case class NestMergeExec(child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  private def key = output.head

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(key)) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq(SortOrder(key, Ascending)))
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = Seq(SortOrder(key, Ascending))

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "runsIn" -> SQLMetrics.createMetric(sparkContext, "nested runs received"),
    "keysMerged" -> SQLMetrics.createMetric(sparkContext, "keys merged from several runs"))

  override protected def doExecute(): RDD[InternalRow] = {
    val out = longMetric("numOutputRows")
    val runsIn = longMetric("runsIn")
    val merged = longMetric("keysMerged")
    child.execute().mapPartitions(new RunMerge(_, out, runsIn, merged))
  }

  override protected def withNewChildInternal(c: SparkPlan): NestMergeExec = copy(child = c)
}

/** One cell; a null `name`/`value` is SQL NULL. */
private[operators] final class Cell(val name: Array[Byte], val value: Array[Byte],
    val wt: Long, val wtNull: Boolean)

private[operators] object Cell {
  private def bin(a: Array[Byte], b: Array[Byte]): Int =
    if (a eq null) { if (b eq null) 0 else -1 }
    else if (b eq null) 1
    else java.util.Arrays.compareUnsigned(a, b)

  /** `sort_array`'s struct order: field by field, nulls first, binary
    * unsigned-lexicographic.
    */
  val order: Comparator[Cell] = (a: Cell, b: Cell) => {
    val n = bin(a.name, b.name)
    if (n != 0) n
    else {
      val v = bin(a.value, b.value)
      if (v != 0) v
      else if (a.wtNull) { if (b.wtNull) 0 else -1 }
      else if (b.wtNull) 1
      else java.lang.Long.compare(a.wt, b.wt)
    }
  }

  /** The cell in ordinals `i` (name), `i + 1` (value), `i + 2`
    * (write_time) of `r`.
    */
  def at(r: InternalRow, i: Int): Cell = new Cell(
    if (r.isNullAt(i)) null else r.getBinary(i),
    if (r.isNullAt(i + 1)) null else r.getBinary(i + 1),
    if (r.isNullAt(i + 2)) 0L else r.getLong(i + 2), r.isNullAt(i + 2))

  /** Stable two-way merge of sorted arrays. */
  def merge(a: Array[Cell], b: Array[Cell]): Array[Cell] = {
    val out = new Array[Cell](a.length + b.length)
    var i = 0
    var j = 0
    var k = 0
    while (i < a.length && j < b.length) {
      if (order.compare(a(i), b(j)) <= 0) { out(k) = a(i); i += 1 }
      else { out(k) = b(j); j += 1 }
      k += 1
    }
    System.arraycopy(a, i, out, k, a.length - i)
    System.arraycopy(b, j, out, k + a.length - i, b.length - j)
    out
  }
}

/** Writes (key, columns) UnsafeRows; the returned row is reused. */
private[operators] final class NestWriter {
  private val row = new UnsafeRowWriter(2, 256)
  private val arr = new UnsafeArrayWriter(row, 8)
  private val cell = new UnsafeRowWriter(arr, 3)

  def write(key: Array[Byte], cells: Array[Cell], n: Int): UnsafeRow = {
    row.reset()
    row.zeroOutNullBytes()
    if (key == null) row.setNullAt(0) else row.write(0, key)
    val start = row.cursor()
    arr.initialize(n)
    var i = 0
    while (i < n) {
      val c = cells(i)
      val at = arr.cursor()
      cell.resetRowWriter()
      if (c.name == null) cell.setNullAt(0) else cell.write(0, c.name)
      if (c.value == null) cell.setNullAt(1) else cell.write(1, c.value)
      if (c.wtNull) cell.setNullAt(2) else cell.write(2, c.wt)
      arr.setOffsetAndSizeFromPreviousCursor(i, at)
      i += 1
    }
    row.setOffsetAndSizeFromPreviousCursor(1, start)
    row.getRow
  }
}

/** The map-side fold over (key, name, value, write_time, live) rows. */
private[operators] final class RunFold(in: Iterator[InternalRow]) extends Iterator[InternalRow] {
  private val writer = new NestWriter
  private var cells = new Array[Cell](16)
  private var n = 0
  private var sorted = true
  private var open = false
  private var key: Array[Byte] = _

  private def start(r: InternalRow): Unit = {
    key = if (r.isNullAt(0)) null else r.getBinary(0)
    n = 0
    sorted = true
    open = true
    add(r)
  }

  private def add(r: InternalRow): Unit = if (r.getBoolean(4)) {
    val c = Cell.at(r, 1)
    if (n == cells.length) cells = java.util.Arrays.copyOf(cells, n * 2)
    if (sorted && n > 0 && Cell.order.compare(cells(n - 1), c) > 0) sorted = false
    cells(n) = c
    n += 1
  }

  private def emit(): InternalRow = {
    if (!sorted) java.util.Arrays.sort(cells, 0, n, Cell.order)
    val out = writer.write(key, cells, n)
    java.util.Arrays.fill(cells.asInstanceOf[Array[AnyRef]], 0, n, null)
    open = false
    out
  }

  override def hasNext: Boolean = open || in.hasNext

  override def next(): InternalRow = {
    if (!open) start(in.next())
    while (in.hasNext) {
      val r = in.next()
      val k = if (r.isNullAt(0)) null else r.getBinary(0)
      if (java.util.Arrays.equals(k, key)) add(r)
      else {
        val out = emit()
        start(r)
        return out
      }
    }
    emit()
  }
}

/** The reduce-side merge over key-sorted (key, columns) rows. */
private[operators] final class RunMerge(in: Iterator[InternalRow], out: SQLMetric,
    runsIn: SQLMetric, keysMerged: SQLMetric) extends Iterator[InternalRow] {
  private val writer = new NestWriter
  // the first run of the next key, copied: the input row is reused
  private var ahead: InternalRow = _

  private def keyOf(r: InternalRow): Array[Byte] = if (r.isNullAt(0)) null else r.getBinary(0)

  private def pull(): InternalRow = { runsIn += 1; in.next().copy() }

  override def hasNext: Boolean = (ahead != null) || in.hasNext

  override def next(): InternalRow = {
    val first = if (ahead != null) ahead else pull()
    ahead = null
    val key = keyOf(first)
    var runs: List[InternalRow] = Nil
    while (ahead == null && in.hasNext) {
      val r = pull()
      if (java.util.Arrays.equals(keyOf(r), key)) runs = r :: runs
      else ahead = r
    }
    out += 1
    if (runs.isEmpty) first
    else {
      keysMerged += 1
      var lists = (first :: runs.reverse).map { r =>
        val a = r.getArray(1)
        Array.tabulate(a.numElements())(i => Cell.at(a.getStruct(i, 3), 0))
      }
      // balanced pairwise merging: O(cells × log runs)
      while (lists.lengthCompare(1) > 0)
        lists = lists.grouped(2).map {
          case Seq(a, b) => Cell.merge(a, b)
          case one => one.head
        }.toList
      writer.write(key, lists.head, lists.head.length)
    }
  }
}
