package graft

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{CellModel, NestMergeExec}

/** The sorted-run nest against the aggregate it replaced: on random
  * cell tables — random key order over 1–8 input partitions, keys split
  * across partitions, duplicate cells, nulls in every cell column and
  * the key, dead-only keys and one ≥10k-cell key — `nestCells` must
  * return exactly the rows of `groupBy(key)` +
  * `sort_array(collect_list(...))`, cell order included. That
  * expression lives on here only as the oracle.
  */
class NestPropertySpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import SparkTestSession.spark

  private val schema = StructType(Seq(
    StructField("key", BinaryType),
    StructField("name", BinaryType),
    StructField("value", BinaryType),
    StructField("write_time", LongType),
    StructField("kind", StringType),
    StructField("partition_deleted", BooleanType)))

  /** The nest as a hash aggregate: the oracle. */
  private def oracle(cells: DataFrame): DataFrame =
    cells
      .filter(!col("partition_deleted"))
      .groupBy(col("key"))
      .agg(sort_array(collect_list(when(col("kind") === "live", struct(
        col("name"), col("value"), col("write_time"))))).as("columns"))

  private type Cell = (Option[Seq[Byte]], Option[Seq[Byte]], Option[Long])

  private def bytes(r: Row, i: Int): Option[Seq[Byte]] =
    if (r.isNullAt(i)) None else Some(r.getAs[Array[Byte]](i).toSeq)

  /** Rows keyed by a printable, injective form of the key. */
  private def rows(df: DataFrame): Map[String, Seq[Cell]] = {
    val got = df.collect().map { r =>
      val k = bytes(r, 0).fold("null")(_.map(b => f"${b & 0xff}%02x").mkString("k", "", ""))
      k -> r.getSeq[Row](1).map(c =>
        (bytes(c, 0), bytes(c, 1), if (c.isNullAt(2)) None else Some(c.getLong(2))))
    }
    assert(got.map(_._1).distinct.length === got.length, "a key was emitted twice")
    got.toMap
  }

  private def randBytes(rnd: Random, alphabet: Int): Array[Byte] =
    Array.fill(rnd.nextInt(3))((rnd.nextInt(alphabet) * 67).toByte)

  /** One random table's rows, in random or key-run order. */
  private def table(rnd: Random, mega: Boolean): Seq[Row] = {
    val keys: Seq[Array[Byte]] = null +: Array.emptyByteArray +:
      (0 until 2 + rnd.nextInt(30)).map(i => Array[Byte]('k', (i * 37).toByte))
    val cells = keys.flatMap { k =>
      // dead-only keys, tombstoned keys and a null tombstone flag
      val mode = rnd.nextInt(8)
      val deleted: Any = if (mode == 0) true else if (mode == 1) null else false
      (0 until rnd.nextInt(12)).flatMap { _ =>
        val kind = if (mode == 2) "deleted" else rnd.nextInt(6) match {
          case 0 => "deleted"
          case 1 => null
          case _ => "live"
        }
        val c = Row(k,
          if (rnd.nextInt(8) == 0) null else randBytes(rnd, 5),
          if (rnd.nextInt(8) == 0) null else randBytes(rnd, 3),
          if (rnd.nextInt(8) == 0) null
          else rnd.nextInt(5) match {
            case 0 => 0L
            case 1 => -rnd.nextInt(1000).toLong
            case _ => rnd.nextInt(4).toLong
          },
          kind, deleted)
        // duplicate cells
        if (rnd.nextInt(6) == 0) Seq(c, c) else Seq(c)
      }
    }
    val big =
      if (!mega) Nil
      else (0 until 10000 + rnd.nextInt(500)).map(i => Row("mega".getBytes,
        s"c${rnd.nextInt(4000)}".getBytes, Array[Byte](i.toByte), i.toLong % 7,
        if (i % 3 == 0) "deleted" else "live", false))
    val all = cells ++ big
    rnd.nextInt(3) match {
      case 0 => rnd.shuffle(all)
      // key runs in random key order, cells in random order inside
      case 1 => rnd.shuffle(all.groupBy(r => Option(r.getAs[Array[Byte]](0)).map(_.toSeq)).values)
        .flatMap(rnd.shuffle(_)).toSeq
      case _ => all
    }
  }

  test("nestCells equals the groupBy/collect_list/sort_array nest row for row") {
    (1 to 12).foreach { seed =>
      val rnd = new Random(seed)
      val parts = 1 + rnd.nextInt(8)
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(table(rnd, mega = seed % 4 == 1), parts), schema)
      val got = CellModel.nestCells(df)
      val want = oracle(df)
      assert(got.schema === want.schema, s"seed $seed")
      val (g, w) = (rows(got), rows(want))
      assert(g.keySet === w.keySet, s"seed $seed")
      w.foreach { case (k, cells) => assert(g(k) === cells, s"seed $seed key $k") }
    }
  }

  private def merge(df: DataFrame): NestMergeExec = {
    df.collect()
    collectFirst(df.queryExecution.executedPlan) { case m: NestMergeExec => m }.get
  }

  test("the merge node counts runs in and keys merged") {
    import spark.implicits._
    // 40 keys, each key's 10 cells contiguous inside one input partition
    val contiguous = spark.sparkContext.parallelize(0 until 40, 4).flatMap { k =>
      (0 until 10).map(i => (f"k$k%02d".getBytes, f"c$i%02d".getBytes,
        Array[Byte](i.toByte), i.toLong, "live", false))
    }.toDF("key", "name", "value", "write_time", "kind", "partition_deleted")
    val m0 = merge(CellModel.nestCells(contiguous))
    assert(m0.metrics("numOutputRows").value === 40L)
    assert(m0.metrics("runsIn").value === 40L)
    assert(m0.metrics("keysMerged").value === 0L)

    // the same cells dealt round-robin: every key's cells span partitions
    val m1 = merge(CellModel.nestCells(contiguous.repartition(4)))
    assert(m1.metrics("numOutputRows").value === 40L)
    assert(m1.metrics("runsIn").value > 40L)
    assert(m1.metrics("keysMerged").value > 0L)
  }

  test("a key-clustered, key-sorted input plans no exchange and no sort of its own") {
    import spark.implicits._
    val cells = (0 until 200).map(i => (s"k${i % 20}".getBytes, s"c$i".getBytes,
      Array[Byte](1), i.toLong, "live", false))
      .toDF("key", "name", "value", "write_time", "kind", "partition_deleted")
    val clustered = cells.repartition(4, col("key")).sortWithinPartitions(col("key"))
    val nested = CellModel.nestCells(clustered)
    val plan = nested.queryExecution.executedPlan.toString
    // the one exchange and sort are the input's own
    assert(plan.linesIterator.count(_.contains("Exchange")) === 1, plan)
    assert(plan.linesIterator.count(_.contains("Sort [")) === 1, plan)
    assert(rows(nested) === rows(oracle(cells)))
  }
}
