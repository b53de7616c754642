package graft

import java.nio.file.{Files, Paths}

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{FileIndex, GenManifest, ProtoZstFiles}

/** A damaged per-file index never changes an answer. With its `.crc`
  * gone (a plain copy, or a store that does not verify reads), the
  * index's own CRC is what stands between a flipped byte and a wrong
  * plan: a cleared bloom bit or a wrong frame key would drop a present
  * key, a wrong count or range would answer COUNT(*) wrongly. Each
  * random single-byte flip or truncation must read back identical to
  * the pristine index or not at all, and gets, scans and the listing
  * view's COUNT(*) must return what they returned before the damage.
  */
class IndexIntegritySpec extends AnyFunSuite {
  import SparkTestSession.spark

  /** 600 distinct keys, key-sorted into three files with 16-row frames;
    * the same rows twice: one governed directory, one listing-view copy
    * (its manifest deleted).
    */
  private def write(prefix: String): String = {
    import spark.implicits._
    val d = Files.createTempDirectory(prefix).toFile.getAbsolutePath
    (0 until 600).map(i => (f"k$i%04d", i)).toDF("k", "i")
      .select(encode(col("k"), "UTF-8").as("key"),
        array(struct(encode(concat(lit("c"), col("i")), "UTF-8").as("name"),
          encode(concat(lit("v"), col("i")), "UTF-8").as("value"),
          col("i").cast("long").as("write_time"))).as("columns"))
      .repartitionByRange(3, col("key")).sortWithinPartitions(col("key"))
      .write.format("proto-zst").option("splitFrameRows", "16")
      .mode("append").save(d)
    d
  }

  private def bytes(k: String) = k.getBytes("UTF-8")

  private def rows(df: DataFrame): Seq[(String, Long)] =
    df.select(decode(col("key"), "UTF-8"), col("columns")(0)("write_time"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq

  /** Every answer the index can steer, for one directory. */
  private def answers(dir: String): Seq[Seq[(String, Long)]] = {
    val r = spark.read.format("proto-zst").load(dir)
    Seq(rows(r.filter(col("key") === lit(bytes("k0300")))),
      rows(r.filter(col("key") === lit(bytes("k0300x")))),
      rows(r.filter(col("key") >= lit(bytes("k0290")) && col("key") < lit(bytes("k0420")))),
      rows(r))
  }

  /** COUNT(*) and whether it was answered from metadata. */
  private def counted(dir: String): (Long, Boolean) = {
    val df = spark.read.format("proto-zst").load(dir).agg(count("*"))
    (df.collect()(0).getLong(0),
      df.queryExecution.executedPlan.toString.contains("PushedAggregation"))
  }

  private def same(a: FileIndex, b: FileIndex): Boolean =
    a.count == b.count && a.sorted == b.sorted &&
      a.min.sameElements(b.min) && a.max.sameElements(b.max) &&
      a.bloom.sameElements(b.bloom) &&
      a.frames.length == b.frames.length &&
      a.frames.zip(b.frames).forall { case (x, y) =>
        x.offset == y.offset && x.rowsBefore == y.rowsBefore &&
          x.firstKey.sameElements(y.firstKey)
      }

  test("random flips and truncations of an index read as pristine or None; answers never change") {
    val conf = ProtoZstFiles.hadoopConf()
    val governed = write("graft_idx_gov")
    val listed = write("graft_idx_list")
    val mp = new org.apache.hadoop.fs.Path(listed, GenManifest.DirName)
    ProtoZstFiles.fs(mp, conf).delete(mp, true)
    // the file holding the probed key, in each directory
    def victim(dir: String): org.apache.hadoop.fs.Path = {
      val fs = ProtoZstFiles.fs(new org.apache.hadoop.fs.Path(dir), conf)
      ProtoZstFiles.list(dir, conf).map(new org.apache.hadoop.fs.Path(_)).find { p =>
        FileIndex.read(fs, p).exists(i => i.mightContain(bytes("k0300")) &&
          new String(i.min, "UTF-8") <= "k0300" && new String(i.max, "UTF-8") >= "k0300")
      }.get
    }
    val victims = Seq(governed, listed).map(victim)
    val fs = ProtoZstFiles.fs(victims.head, conf)
    val pristine = victims.map(FileIndex.read(fs, _).get)
    assert(pristine.forall(i => i.frames.length >= 4 && i.sorted))
    val want = Seq(governed, listed).map(answers)
    assert(want.head === want(1))
    assert(want.head(0) === Seq(("k0300", 300L)) && want.head(1).isEmpty &&
      want.head(2).length === 130 && want.head(3).length === 600)
    assert(counted(listed) === ((600L, true)))

    // damage the local bytes directly, with no .crc left to catch it
    val local = victims.map { v =>
      val idx = FileIndex.path(v)
      assert(fs.delete(new org.apache.hadoop.fs.Path(idx.getParent, s".${idx.getName}.crc"), false))
      Paths.get(idx.toUri.getPath)
    }
    val good = local.map(Files.readAllBytes)
    // (position, xor) flips — half of them before the bloom, where the
    // count, keys and frame boundaries live — and (length, 0)
    // truncations, positions as fractions of the file
    val damages = (1 to 3).flatMap { seed =>
      val rnd = new Random(seed)
      val head = (good.head.length - 4 - pristine.head.bloom.length * 8).toDouble / good.head.length
      Seq.fill(5)((rnd.nextDouble(), 1 + rnd.nextInt(255))) ++
        Seq.fill(5)((rnd.nextDouble() * head, 1 + rnd.nextInt(255))) ++
        Seq.fill(3)((rnd.nextDouble(), 0))
    }
    var unreadable = 0
    damages.foreach { case (frac, xor) =>
      val what = f"${if (xor == 0) "truncation" else s"flip ^$xor"} at $frac%.4f"
      local.zip(good).foreach { case (p, orig) =>
        val at = (frac * orig.length).toInt
        Files.write(p,
          if (xor == 0) orig.take(at)
          else { val b = orig.clone(); b(at) = (b(at) ^ xor).toByte; b })
      }
      val back = victims.map(FileIndex.read(fs, _))
      back.zip(pristine).foreach { case (b, i) => assert(b.forall(same(_, i)), what) }
      unreadable += back.count(_.isEmpty)
      Seq(governed, listed).zip(want).foreach { case (d, w) =>
        assert(answers(d) === w, s"$what in $d")
      }
      // an unreadable index vetoes the listing view's COUNT(*)
      assert(counted(listed) === ((600L, back(1).isDefined)), what)
      local.zip(good).foreach { case (p, orig) => Files.write(p, orig) }
    }
    // CRC32 catches every single-byte flip, and these truncations
    assert(unreadable === 2 * damages.length)
  }
}
