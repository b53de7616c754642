package convbench

import java.io.{ByteArrayOutputStream, File, FileInputStream}

import com.github.luben.zstd.{ZstdInputStream, ZstdOutputStream}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

import graft.functions.ProtoWire

/** Raw-JVM floors for the `*.floor_ratio` metrics: tight single-thread
  * loops over the same rows and bytes the engine handled, divided by
  * the core count (the engine runs `local[cores]`), each the median of
  * three timed passes after one untimed pass.
  */
object Floors {
  private def medianSeconds(passes: Int)(f: => Unit): Double = {
    f
    Stats.median((1 to passes).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    })
  }

  /** Rows as the encoder sees them: key bytes and an array of
    * (name, value, writeTime) structs.
    */
  def encoderRows(rows: Iterator[NestedRow]): Array[(Array[Byte], ArrayData)] =
    rows.map { r =>
      r.key -> (new GenericArrayData(r.columns.map(c =>
        InternalRow(c.name, c.value, c.write_time)).toArray[Any]): ArrayData)
    }.toArray

  /** `ProtoWire.encodeRow` + `delimit` over every row. */
  def encodeSeconds(rows: Array[(Array[Byte], ArrayData)], cores: Int): Double =
    medianSeconds(3) {
      var n = 0L
      rows.foreach { case (k, cols) =>
        n += ProtoWire.delimit(ProtoWire.encodeRow(k, cols)).length }
      require(n > 0)
    } / cores

  def decompress(f: File): Array[Byte] = {
    val in = new ZstdInputStream(new FileInputStream(f))
    try in.readAllBytes() finally in.close()
  }

  /** zstd-jni compression of the sink's uncompressed bytes. */
  def compressSeconds(raw: Seq[Array[Byte]], cores: Int): Double =
    medianSeconds(3) {
      raw.foreach { b =>
        val out = new ByteArrayOutputStream(b.length / 4)
        val z = new ZstdOutputStream(out)
        z.write(b); z.close()
      }
    } / cores

  /** zstd-jni decompression plus `ProtoWire.decodeRows` of every file. */
  def decodeSeconds(files: Seq[File], cores: Int): Double = {
    val compressed = files.map(f => java.nio.file.Files.readAllBytes(f.toPath))
    medianSeconds(3) {
      var cells = 0L
      compressed.foreach { c =>
        val in = new ZstdInputStream(new java.io.ByteArrayInputStream(c))
        val raw = try in.readAllBytes() finally in.close()
        ProtoWire.decodeRows(raw).foreach(r => cells += r.columns.length)
      }
      require(cells >= 0)
    } / cores
  }
}
