package convbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private val parts = 2000

  private def table(seed: Long): Seq[Part] = (0 until parts).map(Gen.part(seed, parts, _))

  test("the generator is deterministic per seed") {
    val a = table(7)
    val b = table(7)
    assert(a.map(_.cells.length) == b.map(_.cells.length))
    a.zip(b).foreach { case (x, y) =>
      assert(x.deleted == y.deleted)
      x.cells.zip(y.cells).foreach { case (c, d) =>
        assert(c.key.sameElements(d.key) && c.name.sameElements(d.name) &&
          c.value.sameElements(d.value) && c.write_time == d.write_time &&
          c.kind == d.kind)
      }
    }
    assert(Pipeline.expect(7, parts, 3) == Pipeline.expect(7, parts, 1))
    assert(Gen.ingestRow(7, 3, 11).key.sameElements(Gen.ingestRow(7, 3, 11).key))
  }

  test("different seeds give different tables") {
    assert(Pipeline.expect(7, parts, 2).digest != Pipeline.expect(8, parts, 2).digest)
  }

  test("the table has the documented shape") {
    val t = table(11)
    val cells = t.flatMap(_.cells)
    val liveShare = cells.count(_.kind == "live").toDouble / cells.length
    assert(liveShare > 0.65 && liveShare < 0.75, liveShare)
    val dead = t.count(_.deleted).toDouble / t.length
    assert(dead > 0.005 && dead < 0.04, dead)
    assert(t.count(_.cells.length >= 10000) == Gen.MegaCount)
    val blobs = cells.map(_.value.length).filter(_ >= 1024)
    assert(blobs.nonEmpty && blobs.forall(_ <= 4096))
    assert(cells.map(v => new String(v.value)).distinct.length > cells.length / 2)
    // names ascend within a partition and keys ascend with pid
    t.foreach(p => assert(p.cells.map(c => new String(c.name)).sorted
      .sameElements(p.cells.map(c => new String(c.name)))))
    assert(new String(Gen.key(9)) < new String(Gen.absentKey(9)) &&
      new String(Gen.absentKey(9)) < new String(Gen.key(10)))
  }
}
