package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{CdcChunks60Expr, DotLongExpr, GramHash60Expr, Md5Prefix60Expr, MergeColumnsExpr, ProtoEncodeRowExpr, ShingleHash60Expr, SortedIntersectCountExpr, VarintDelimitExpr}

/** SparkSessionExtensions installer exposing the engine's native
  * expressions to SQL users:
  *
  * {{{
  * spark-shell --conf spark.sql.extensions=graft.GraftExtensions
  * SELECT proto_delimited(proto_row(key, columns)) FROM ...
  * }}}
  *
  * The registered functions are the custom codegen'd Catalyst
  * expressions (not UDFs), so SQL callers get the same whole-stage
  * codegen path as the Scala API. It also installs the planner
  * strategy of the sorted-run nest ([[graft.operators.SortedNest]]).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, clazz: Class[_]): ExpressionInfo =
    new ExpressionInfo(clazz.getCanonicalName, name)

  /** Arity check at function-build time (analysis): a wrong-arity SQL
    * call gets a message naming the function instead of a raw
    * IndexOutOfBounds from `es(1)`. Input TYPES are validated by each
    * expression's `ExpectsInputTypes`.
    */
  private def arity(name: String, n: Int,
      es: Seq[Expression]): Seq[Expression] = {
    if (es.length != n)
      throw new IllegalArgumentException(
        s"$name expects $n argument(s), got ${es.length}")
    es
  }

  /** A positive integer-literal argument (gram width, shingle k, CDC
    * modulus): non-foldable or non-positive values fail at analysis
    * with the function named, not per-row at runtime (`cdc_chunks60(ws,
    * 0)` would otherwise divide by zero on every row).
    */
  private def posIntLit(name: String, e: Expression): Int =
    (if (e.foldable) Option(e.eval()) else None) match {
      case Some(v: Number) if v.intValue > 0 => v.intValue
      case _ => throw new IllegalArgumentException(
        s"$name expects a positive integer literal, got $e")
    }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => graft.operators.NestStrategy)
    ext.injectFunction((FunctionIdentifier("proto_row"),
      info("proto_row", classOf[ProtoEncodeRowExpr]),
      (es: Seq[Expression]) => { val a = arity("proto_row", 2, es)
        ProtoEncodeRowExpr(a(0), a(1)) }))
    ext.injectFunction((FunctionIdentifier("proto_delimited"),
      info("proto_delimited", classOf[VarintDelimitExpr]),
      (es: Seq[Expression]) =>
        VarintDelimitExpr(arity("proto_delimited", 1, es)(0))))
    ext.injectFunction((FunctionIdentifier("sorted_intersect_count"),
      info("sorted_intersect_count", classOf[SortedIntersectCountExpr]),
      (es: Seq[Expression]) => { val a = arity("sorted_intersect_count", 2, es)
        SortedIntersectCountExpr(a(0), a(1)) }))
    ext.injectFunction((FunctionIdentifier("dot_long"),
      info("dot_long", classOf[DotLongExpr]),
      (es: Seq[Expression]) => { val a = arity("dot_long", 2, es)
        DotLongExpr(a(0), a(1)) }))
    ext.injectFunction((FunctionIdentifier("md5_prefix60"),
      info("md5_prefix60", classOf[Md5Prefix60Expr]),
      (es: Seq[Expression]) =>
        Md5Prefix60Expr(arity("md5_prefix60", 1, es)(0))))
    // n/k must be integer literals (evaluated at registration)
    ext.injectFunction((FunctionIdentifier("gram_hash60"),
      info("gram_hash60", classOf[GramHash60Expr]),
      (es: Seq[Expression]) => { val a = arity("gram_hash60", 2, es)
        GramHash60Expr(a(0), posIntLit("gram_hash60", a(1))) }))
    ext.injectFunction((FunctionIdentifier("shingle_hash60"),
      info("shingle_hash60", classOf[ShingleHash60Expr]),
      (es: Seq[Expression]) => { val a = arity("shingle_hash60", 2, es)
        ShingleHash60Expr(a(0), posIntLit("shingle_hash60", a(1))) }))
    ext.injectFunction((FunctionIdentifier("cdc_chunks60"),
      info("cdc_chunks60", classOf[CdcChunks60Expr]),
      (es: Seq[Expression]) => { val a = arity("cdc_chunks60", 2, es)
        CdcChunks60Expr(a(0), posIntLit("cdc_chunks60", a(1))) }))
    ext.injectFunction((FunctionIdentifier("merge_columns"),
      info("merge_columns", classOf[MergeColumnsExpr]),
      (es: Seq[Expression]) => { val a = arity("merge_columns", 2, es)
        MergeColumnsExpr(a(0), a(1)) }))
  }
}
