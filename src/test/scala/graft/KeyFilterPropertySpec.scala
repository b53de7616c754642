package graft

import org.apache.spark.sql.{Column, GraftFilterAccess}
import org.apache.spark.sql.catalyst.expressions.{And, Expression}
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.KeyPredicate

/** Pushed key filters are EXACT: the proto-zst scan evaluates every
  * `key` predicate it accepts (=, IN, ranges, and Not/Or/And of them)
  * in its readers — batch, seeked and driver-local alike — so Spark
  * re-evaluates none of them. For random predicates the result must
  * equal Spark's own evaluation over the same rows read unfiltered,
  * and no supported conjunct may survive in a post-scan Filter.
  */
class KeyFilterPropertySpec extends AnyFunSuite {
  import SparkTestSession.spark

  /** 300 rows, 150 keys twice each, key-sorted into three files with
    * 16-row frames: range skip, bloom probes, seeks (duplicates
    * straddling frame boundaries) and driver-local gets all occur.
    */
  private lazy val dir: String = {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_keyprop")
      .toFile.getAbsolutePath
    (0 until 300).map(i => (f"k${i / 2}%03d", i)).toDF("k", "i")
      .select(encode(col("k"), "UTF-8").as("key"),
        array(struct(encode(concat(lit("c"), col("i")), "UTF-8").as("name"),
          encode(concat(lit("v"), col("i")), "UTF-8").as("value"),
          col("i").cast("long").as("write_time"))).as("columns"))
      .repartitionByRange(3, col("key")).sortWithinPartitions(col("key"))
      .write.format("proto-zst").option("splitFrameRows", "16")
      .mode("append").save(d)
    d
  }

  private def shape(c: Column)(df: org.apache.spark.sql.DataFrame) =
    df.filter(c).select(decode(col("key"), "UTF-8"), col("columns")(0)("write_time"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq

  /** Present keys, absent keys between and around them, the empty key. */
  private val genKey: Gen[Array[Byte]] = Gen.oneOf(
    Gen.chooseNum(0, 149).map(i => f"k$i%03d"),
    Gen.oneOf("", "k", "k0505", "k07", "k149z", "l", "j"))
    .map(_.getBytes("UTF-8"))

  private def genPred(depth: Int): Gen[Column] = {
    val key = col("key")
    val leaf: Gen[Column] = Gen.oneOf(
      genKey.map(k => key === lit(k)),
      Gen.chooseNum(1, 4).flatMap(Gen.listOfN(_, genKey)).map(ks => key.isin(ks: _*)),
      genKey.map(k => key > lit(k)), genKey.map(k => key >= lit(k)),
      genKey.map(k => key < lit(k)), genKey.map(k => key <= lit(k)))
    if (depth == 0) leaf
    else Gen.frequency(
      3 -> leaf,
      1 -> genPred(depth - 1).map(p => !p),
      2 -> Gen.zip(genPred(depth - 1), genPred(depth - 1)).map { case (a, b) => a || b },
      2 -> Gen.zip(genPred(depth - 1), genPred(depth - 1)).map { case (a, b) => a && b })
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  test("pushed key predicates return exactly Spark's rows and leave no supported Filter") {
    val unfiltered = spark.read.format("proto-zst").load(dir).collect().toSeq
    val base = spark.createDataFrame(spark.sparkContext.parallelize(unfiltered, 1),
      graft.sources.ProtoZstTable.Schema)
    assert(unfiltered.length === 300)
    val prop = Prop.forAll(genPred(3)) { p =>
      val pushed = spark.read.format("proto-zst").load(dir).filter(p)
      val residual = pushed.queryExecution.executedPlan.collect { case f: FilterExec => f }
        .flatMap(f => conjuncts(f.condition))
        .filter(c => GraftFilterAccess.translate(c).exists(KeyPredicate.supported(_)))
      (shape(p)(spark.read.format("proto-zst").load(dir)) == shape(p)(base)) :|
        s"rows differ for $p" &&
        residual.isEmpty :| s"supported conjuncts re-evaluated post-scan for $p: $residual"
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(60), prop)
    assert(res.passed, res.status.toString)
  }
}
