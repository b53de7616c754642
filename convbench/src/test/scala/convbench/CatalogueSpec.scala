package convbench

import org.scalatest.funsuite.AnyFunSuite

/** BENCHMARK.json at the repository root must list exactly the metrics
  * the benchmark reports, with the same units.
  */
class CatalogueSpec extends AnyFunSuite {
  test("BENCHMARK.json names every reported metric with its unit") {
    val file = Seq(new java.io.File("../BENCHMARK.json"), new java.io.File("BENCHMARK.json"))
      .find(_.isFile).get
    val json = scala.io.Source.fromFile(file).mkString
    val listed = """\{\s*"name":\s*"([^"]+)",\s*"unit":\s*"([^"]+)"""".r
      .findAllMatchIn(json).map(m => m.group(1) -> m.group(2)).toSeq
    assert(listed == Catalogue.EndToEnd ++ Catalogue.Layers)
  }
}
