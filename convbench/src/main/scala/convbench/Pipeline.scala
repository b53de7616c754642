package convbench

import java.io.File

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.operators.{CellModel, Sink}

/** What the generator says a converted table must hold. */
final case class Expect(digest: Digest, inputCells: Long, userBytes: Long)

/** The benchmark's calls into the engine, one per pipeline layer, plus
  * the generator-side expectation they are checked against.
  */
object Pipeline {

  /** The generated cell table as a Dataset, one Spark partition per
    * slice of partition ids (the generator runs inside the tasks).
    */
  def cells(spark: SparkSession, seed: Long, parts: Int, slices: Int): Dataset[FlatCell] = {
    import spark.implicits._
    spark.range(0, slices, 1, slices).as[Long].flatMap { s =>
      Gen.slicePids(parts, slices, s.toInt)
        .flatMap(pid => Gen.part(seed, parts, pid).cells.iterator)
    }
  }

  /** The liveness filter: drop partition tombstones (the O7 filter
    * `CellModel.nestCells` applies before grouping).
    */
  def liveFilter(cells: DataFrame): DataFrame = cells.filter(!col("partition_deleted"))

  def nest(cells: DataFrame): DataFrame = CellModel.nestCells(liveFilter(cells))

  def write(nested: DataFrame, out: File): Unit = Sink.writeNested(nested, out.getPath)

  /** A point get through the engine's proto-zst source. */
  def get(spark: SparkSession, dir: File, key: Array[Byte]): Seq[NestedRow] =
    spark.read.format("proto-zst").load(dir.getPath)
      .filter(col("key") === lit(key)).collect().toSeq.map(rowOf)

  def rowOf(r: Row): NestedRow =
    NestedRow(r.getAs[Array[Byte]]("key"), r.getSeq[Row](r.fieldIndex("columns"))
      .map(c => NestedCol(c.getAs[Array[Byte]](0), c.getAs[Array[Byte]](1), c.getLong(2))))

  /** Full decode of a generation through the engine's proto-zst source,
    * digested in the tasks.
    */
  def engineDigest(spark: SparkSession, dir: File): Digest = {
    import spark.implicits._
    spark.read.format("proto-zst").load(dir.getPath).as[NestedRow]
      .mapPartitions(it => Iterator(Digest.ofRows(it)))
      .collect().foldLeft(Digest.Zero)(_ + _)
  }

  /** The correctness check on a generation: its decoded stored bytes
    * must match the expectation. A mismatch or a failed decode counts
    * as one failed operation and is reported on stderr.
    */
  def verify(ctx: Ctx, what: String, dir: File, want: Digest): Boolean =
    ctx.check(what) {
      val got = engineDigest(ctx.spark, dir)
      if (got != want) ctx.failures += s"$what: decoded $got, expected $want"
      got == want
    }

  /** Expectation for a converted table, computed by the generator alone
    * on `threads` threads outside Spark.
    */
  def expect(seed: Long, parts: Int, threads: Int): Expect = {
    val fs = (0 until threads).map { s =>
      Future {
        var d = Digest.Zero
        var cells = 0L
        var user = 0L
        Gen.slicePids(parts, threads, s).foreach { pid =>
          val p = Gen.part(seed, parts, pid)
          cells += p.cells.length
          p.expected.foreach { row =>
            d = d + Digest.of(row)
            row.columns.foreach(c =>
              user += row.key.length + c.name.length + c.value.length + 8)
          }
        }
        Expect(d, cells, user)
      }
    }
    fs.map(Await.result(_, Duration.Inf)).reduce((a, b) =>
      Expect(a.digest + b.digest, a.inputCells + b.inputCells,
        a.userBytes + b.userBytes))
  }

  def userBytes(row: NestedRow): Long =
    row.columns.map(c => row.key.length + c.name.length + c.value.length + 8L).sum
}
