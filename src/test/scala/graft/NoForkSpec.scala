package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{CellModel, Sink, SinkMaintain, Tombstones}
import graft.sources.{GenManifest, ProtoZstFiles}

/** The engine's local filesystem ([[ProtoZstFiles.fs]]) sets file
  * modes without starting a process: Hadoop's stock local filesystem
  * forks `chmod` for every create and mkdir when libhadoop is absent.
  * Counts the `jdk.ProcessStart` events of the write paths with an
  * in-process JFR recording, and pins the modes, `.crc` files and
  * sticky-bit fallback against stock `LocalFileSystem`.
  */
class NoForkSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sf0001}

  private def freshDir(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  private def conf = ProtoZstFiles.hadoopConf()

  /** The command line of every process started while `f` ran. */
  private def processStarts(f: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      try f finally rec.stop()
      val dump = Files.createTempFile("graft_forks", ".jfr")
      try {
        rec.dump(dump)
        jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.toSeq
          .filter(_.getEventType.getName == "jdk.ProcessStart")
          .map(_.getString("command"))
      } finally Files.delete(dump)
    } finally rec.close()
  }

  private def chmods(cmds: Seq[String]): Seq[String] =
    cmds.filter(_.split("\\s+").exists(_.endsWith("chmod")))

  /** Permission bits and sticky bit of a file or directory. */
  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0x3ff

  test("the local resolver is one checksummed LocalFileSystem; other schemes fall through") {
    val a = ProtoZstFiles.fs(new Path(freshDir("graft_nofork_a")), conf)
    val b = ProtoZstFiles.fs(new Path("file:" + freshDir("graft_nofork_b")), conf)
    assert(a eq b)
    assert(a.isInstanceOf[LocalFileSystem])
    assert(ProtoZstFiles.isLocal(a.getUri))
    assert(!ProtoZstFiles.isLocal(new java.net.URI("hdfs://nn:8020/x")))
    // a scheme nobody registered reaches Hadoop's own lookup
    intercept[org.apache.hadoop.fs.UnsupportedFileSystemException] {
      ProtoZstFiles.fs(new Path("graftnosuchfs://host/x"), conf)
    }
  }

  test("append, erase, optimize and commit start no chmod; modes and .crc files match stock") {
    val dir = freshDir("graft_nofork_sink")
    val nested = CellModel.nestRows(spark, sf0001).repartition(2, col("key")).cache()
    val victims = nested.select(col("key")).limit(3).collect()
      .map(_.getAs[Array[Byte]](0)).toSeq
    val cmds = processStarts {
      Sink.writeNested(nested, dir)
      Sink.writeNested(nested.limit(500), dir)
      Tombstones.eraseKeys(dir, victims)
      SinkMaintain.optimizeSink(spark, dir)
      GenManifest.commit(dir, conf)(identity)
    }
    nested.unpersist()
    assert(chmods(cmds).isEmpty, s"processes started: ${cmds.mkString("; ")}")

    // the modes stock LocalFileSystem gives the same creates
    val stockDir = new Path(freshDir("graft_nofork_stock"), "d")
    val stock = FileSystem.getLocal(conf)
    assert(!(stock eq ProtoZstFiles.fs(stockDir, conf)))
    stock.mkdirs(stockDir)
    val stockFile = new Path(stockDir, "f")
    stock.create(stockFile, true).close()
    val fileMode = mode(Paths.get(stockFile.toUri.getPath))
    val dirMode = mode(Paths.get(stockDir.toUri.getPath))
    assert(mode(Paths.get(stockDir.toUri.getPath, ".f.crc")) === fileMode)
    assert(fileMode === Integer.parseInt("644", 8))
    assert(dirMode === Integer.parseInt("755", 8))

    // exactly four files per data file (data, its index, their .crc
    // files), two per tombstone file, and the manifest directory
    val root = Paths.get(dir)
    val names = Files.list(root).iterator().asScala.map(_.getFileName.toString).toSet
    val (tombs, data) = names.filter(_.endsWith(".proto.zst")).partition(_.startsWith("tomb-"))
    assert(data.nonEmpty && tombs.nonEmpty)
    def withCrc(f: String) = Set(f, "." + f + ".crc")
    assert(names === data.flatMap(d => withCrc(d) ++ withCrc(d + ".idx")) ++
      tombs.flatMap(withCrc) + GenManifest.DirName)
    val manifest = root.resolve(GenManifest.DirName)
    assert(mode(manifest) === dirMode)
    val written = Files.list(root).iterator().asScala.filter(Files.isRegularFile(_)) ++
      Files.list(manifest).iterator().asScala
        // the commit lock is a java.nio create, not a Hadoop one
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString != "_commit.lock")
    for (p <- written) assert(mode(p) === fileMode, s"$p")
  }

  test("a mode with the sticky bit still goes through Hadoop's chmod") {
    val d = new Path(freshDir("graft_nofork_sticky"), "d")
    val fs = ProtoZstFiles.fs(d, conf)
    assert(chmods(processStarts(fs.mkdirs(d))).isEmpty)
    val local = Paths.get(d.toUri.getPath)
    val plain = Integer.parseInt("750", 8)
    assert(chmods(processStarts(
      fs.setPermission(d, new FsPermission(plain.toShort)))).isEmpty)
    assert(mode(local) === plain)
    val sticky = Integer.parseInt("1755", 8)
    assert(chmods(processStarts(
      fs.setPermission(d, new FsPermission(sticky.toShort)))).length === 1)
    assert(mode(local) === sticky)
  }
}
