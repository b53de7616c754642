package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{ArrayType, StructType}

import graft.functions.ProtoWire
import graft.sources.ProtoZstTable

/** Decoded rows as plain values in a read schema's field order — the
  * key as `Seq[Byte]`, `columns` as one `Seq` per cell of its fields —
  * so the [[ProtoWire.RowDecoder]]'s `UnsafeRow`s and the reference
  * [[ProtoWire.decodeRows]]'s objects compare with `==`.
  */
object RowDecoding {
  private def cellsOf(schema: StructType): Option[StructType] =
    schema.fields.find(_.name == "columns")
      .map(_.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType])

  def plain(row: InternalRow, schema: StructType): Seq[Any] =
    schema.fields.toSeq.zipWithIndex.map {
      case (f, i) if f.name == "key" => row.getBinary(i).toSeq
      case (_, i) =>
        val inner = cellsOf(schema).get
        val a = row.getArray(i)
        (0 until a.numElements()).map { j =>
          val c = a.getStruct(j, inner.length)
          inner.fieldNames.toSeq.zipWithIndex.map {
            case ("write_time", x) => c.getLong(x)
            case (_, x) => c.getBinary(x).toSeq
          }
        }
    }

  def plain(r: ProtoWire.DecodedRow, schema: StructType): Seq[Any] =
    schema.fieldNames.toSeq.map {
      case "key" => r.key.toSeq
      case _ => r.columns.map(c => cellsOf(schema).get.fieldNames.toSeq.map {
        case "name" => c.name.toSeq
        case "value" => c.value.toSeq
        case "write_time" => c.writeTime
      })
    }

  /** The rows the decoder emits over `bytes` before it ends or throws,
    * and what it threw.
    */
  def decode(bytes: Array[Byte], schema: StructType = ProtoZstTable.Schema,
      keep: ProtoWire.KeyGate = ProtoWire.KeepAll, expect: Long = -1L,
      stopAbove: Array[Byte] = null): (Seq[Seq[Any]], Option[Throwable]) = {
    val d = new ProtoWire.RowDecoder(new java.io.ByteArrayInputStream(bytes),
      ProtoWire.ReadShape(schema), keep, expect, stopAbove)
    val out = Seq.newBuilder[Seq[Any]]
    try {
      while (d.next()) out += plain(d.row, schema)
      (out.result(), None)
    } catch { case e: Exception => (out.result(), Some(e)) }
  }

  /** The reference decode of `bytes` under `schema`: its rows before
    * the end or the first error, and the error.
    */
  def reference(bytes: Array[Byte], schema: StructType = ProtoZstTable.Schema,
      keep: Array[Byte] => Boolean = _ => true): (Seq[Seq[Any]], Option[Throwable]) = {
    val it = ProtoWire.decodeRows(bytes)
    val out = Seq.newBuilder[Seq[Any]]
    try {
      it.foreach(r => if (keep(r.key)) out += plain(r, schema))
      (out.result(), None)
    } catch { case e: Exception => (out.result(), Some(e)) }
  }
}
