package graft.sources

import java.util.{Map => JMap}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{FunctionCatalog, Identifier, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{BinaryType, DataType, IntegerType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Deterministic key→bucket assignment for the bucketed proto-zst
  * layout, plus the `_buckets` directory spec that records it.
  *
  * The function is the JDK's specified 31-polynomial over the key bytes
  * (`java.util.Arrays.hashCode`), floor-mod the bucket count: stable
  * across JVMs and cheap enough to evaluate per row in the writer. The
  * writer and the catalog's V2 `bucket` function compute EXACTLY this,
  * which is the whole contract behind reporting
  * `KeyGroupedPartitioning(bucket(n, key))` to Catalyst: same key ⇒
  * same bucket in every generation written with the same spec, so
  * co-bucketed scans can join/merge with zero exchanges (the
  * storage-partitioned-join path).
  */
object GraftBucket {
  val BucketsFile = "_buckets"

  def bucket(n: Int, key: Array[Byte]): Int =
    Math.floorMod(java.util.Arrays.hashCode(key), n)

  /** The bucket count a directory was written with; None = unbucketed. */
  def readSpec(path: String, conf: org.apache.hadoop.conf.Configuration): Option[Int] =
    try {
      val p = new Path(path, BucketsFile)
      val fs = ProtoZstFiles.fs(p, conf)
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val s = try new String(in.readAllBytes(), "UTF-8").trim finally in.close()
        Some(s.toInt).filter(_ > 0)
      }
    } catch { case _: Exception => None }

  def writeSpec(path: String, n: Int, conf: org.apache.hadoop.conf.Configuration): Unit = {
    require(n > 0, s"bucket count must be positive: $n")
    val dir = new Path(path)
    val fs = ProtoZstFiles.fs(dir, conf)
    fs.mkdirs(dir)
    val os = fs.create(new Path(dir, BucketsFile), true)
    try os.write(s"$n\n".getBytes("UTF-8")) finally os.close()
  }
}

/** The V2 `bucket(n, key)` function the catalog exposes so Catalyst can
  * resolve the table-reported bucket transform (and evaluate it for
  * write-side clustering). `canonicalName` is the identity Catalyst
  * compares across the two sides of a storage-partitioned join.
  */
class GraftBucketUnbound extends UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String =
    "bucket(n, key): floorMod(31-poly hash of key bytes, n)"
  override def bind(inputType: StructType): BoundFunction = {
    val ok = inputType.fields.length == 2 &&
      inputType.fields(0).dataType == IntegerType &&
      inputType.fields(1).dataType == BinaryType
    if (!ok)
      throw new UnsupportedOperationException(
        s"bucket expects (int, binary), got ${inputType.simpleString}")
    new GraftBucketBound
  }
}

class GraftBucketBound extends ScalarFunction[Integer] {
  override def inputTypes(): Array[DataType] = Array(IntegerType, BinaryType)
  override def resultType(): DataType = IntegerType
  override def name(): String = "bucket"
  override def canonicalName(): String = "graft.bucket"
  override def isResultNullable: Boolean = false
  override def isDeterministic: Boolean = true
  override def produceResult(input: InternalRow): Integer =
    GraftBucket.bucket(input.getInt(0), input.getBinary(1))
}

/** A minimal V2 catalog exposing proto-zst directories as tables:
  * `spark.table("graft.`/path/to/dir`")`. Registration:
  * `spark.sql.catalog.graft = graft.sources.GraftCatalog`.
  *
  * Existing reads/writes through `format("proto-zst")` keep working;
  * the catalog path adds what a path-based provider cannot have — a
  * `FunctionCatalog` — which is what lets Catalyst RESOLVE the bucket
  * transform the table reports and therefore trust the scan's
  * `KeyGroupedPartitioning`. This is the engine's answer to the
  * reference's "files of one table share one layout" assumption
  * (`SSTableReaderPatched.java:54-97`): the layout contract lives in
  * the table, and the planner exploits it.
  */
class GraftCatalog extends TableCatalog with FunctionCatalog {
  private var catName = "graft"

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catName = name
  override def name(): String = catName

  private def path(ident: Identifier): String =
    (ident.namespace() :+ ident.name()).mkString("/")

  override def listTables(namespace: Array[String]): Array[Identifier] =
    Array.empty

  override def loadTable(ident: Identifier): Table = {
    val dir = path(ident)
    val conf = ProtoZstFiles.hadoopConf()
    val p = new Path(dir)
    if (!ProtoZstFiles.fs(p, conf).exists(p))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        Seq(catName, ident.name()))
    new ProtoZstTable(dir, GraftBucket.readSpec(dir, conf), viaCatalog = true)
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: JMap[String, String]): Table = {
    require(schema == ProtoZstTable.Schema,
      s"proto-zst tables have a fixed schema; got ${schema.simpleString}")
    val dir = path(ident)
    val conf = ProtoZstFiles.hadoopConf()
    partitions.toSeq match {
      case Seq() =>
        val p = new Path(dir)
        ProtoZstFiles.fs(p, conf).mkdirs(p)
      case Seq(t) if t.name() == "bucket" =>
        val n = t.arguments().collectFirst {
          case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
            l.value().asInstanceOf[Number].intValue()
        }.getOrElse(throw new IllegalArgumentException(
          s"bucket transform without a bucket count: $t"))
        GraftBucket.writeSpec(dir, n, conf)
      case other =>
        throw new UnsupportedOperationException(
          s"unsupported partitioning for proto-zst: ${other.mkString(", ")}")
    }
    loadTable(ident)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException("proto-zst tables are immutable")
  override def dropTable(ident: Identifier): Boolean =
    throw new UnsupportedOperationException(
      "refusing to drop a directory through the catalog")
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("proto-zst tables are immutable")

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(Array.empty, "bucket"))
  override def loadFunction(ident: Identifier): UnboundFunction =
    if (ident.name().equalsIgnoreCase("bucket")) new GraftBucketUnbound
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(
      ident)
}

/** Session wiring for the catalog + storage-partitioned planning. These
  * are engine-level settings (catalog registration and the V2 bucketing
  * feature switches), centralized here and set idempotently — callers
  * invoke this once before using `graft.`-catalog tables.
  */
object GraftCatalog {
  val Name = "graft"

  def ensure(spark: SparkSession): Unit = {
    val want = Seq(
      s"spark.sql.catalog.$Name" -> classOf[GraftCatalog].getName,
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true")
    want.foreach { case (k, v) =>
      if (!spark.conf.getOption(k).contains(v)) spark.conf.set(k, v)
    }
  }

  def tableName(dir: String): String = s"$Name.`$dir`"
}
