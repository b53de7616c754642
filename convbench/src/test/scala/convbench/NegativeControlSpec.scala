package convbench

import java.io.{ByteArrayOutputStream, File, FileOutputStream}
import java.nio.file.Files.createTempDirectory

import com.github.luben.zstd.ZstdOutputStream
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The correctness check must see stored bytes, not only counts: one
  * byte flipped inside a value blob of one output file, re-compressed so
  * zstd and the proto framing stay valid, must fail the check loudly —
  * both when the local filesystem's `.crc` sidecar refuses the file and
  * when, without that sidecar, the engine decodes the altered bytes
  * without complaint.
  */
class NegativeControlSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val root = createTempDirectory("convbench-spec").toFile
  private lazy val spark = Main.session(root, 2)

  override def afterAll(): Unit = {
    spark.stop()
    Files.delete(root)
  }

  private def indexOf(hay: Array[Byte], needle: Array[Byte]): Int =
    (0 to hay.length - needle.length).find(i =>
      java.util.Arrays.equals(hay, i, i + needle.length, needle, 0, needle.length))
      .getOrElse(-1)

  test("flipping one byte inside a value blob fails the check loudly") {
    val seed = 3L
    val parts = 1500
    val ctx = new Ctx(spark, seed, 1, new Tracer(false), root, 2)
    val out = new File(root, "out")
    Pipeline.write(Pipeline.nest(Pipeline.cells(spark, seed, parts, 2).toDF()), out)
    val want = Pipeline.expect(seed, parts, 2).digest
    assert(Pipeline.verify(ctx, "clean", out, want))

    val blob = (0 until parts).iterator.map(Gen.part(seed, parts, _))
      .flatMap(_.expected).flatMap(_.columns).map(_.value)
      .find(_.length >= 1024).get
    val (file, raw, at) = Files.dataFiles(out).iterator.map { f =>
      val raw = Floors.decompress(f)
      (f, raw, indexOf(raw, blob))
    }.find(_._3 >= 0).get
    raw(at + blob.length / 2) = (raw(at + blob.length / 2) ^ 0x01).toByte
    val z = new ByteArrayOutputStream()
    val zs = new ZstdOutputStream(z)
    zs.write(raw); zs.close()
    val os = new FileOutputStream(file)
    try os.write(z.toByteArray) finally os.close()

    assert(!Pipeline.verify(ctx, "refused", out, want))
    assert(ctx.failures.exists(_.startsWith("refused: ")))

    new File(file.getParentFile, "." + file.getName + ".crc").delete()
    val got = Pipeline.engineDigest(spark, out)
    assert(got.rows == want.rows && got.cells == want.cells, "counts alone stay equal")
    assert(got.sum != want.sum)
    assert(!Pipeline.verify(ctx, "silent", out, want))
    assert(ctx.failed == 2 && ctx.attempted == 3)
    assert(ctx.failures.exists(_.startsWith("silent: decoded")))
  }
}
