package graft.bench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The catalog workloads' output checks, end to end through `Run`. */
class CatalogCheckSpec extends AnyFunSuite {

  private val data = "data/sf0.001"
  private val expected = "expected_sf0.001.tsv"

  private def run(expectedFile: String): Map[String, Any] = {
    val out = Files.createTempFile("graft-bench-record", ".json")
    val r = new Run(Main.Args(Catalog.Workload, 7L, 0.0, trace = false, data,
      expectedFile, out.toString, "test"))
    try r.execute() finally { r.shutdown(); Files.deleteIfExists(out) }
  }

  test("the catalog families partition SparkEntry.names and hold both subsets") {
    assert(Catalog.checkPartition(graft.SparkEntry.names).isEmpty)
    assert(Catalog.checkPartition(graft.SparkEntry.names :+ "m1_logistic_irls")
      .contains("duplicate query names"))
    assert(Catalog.checkPartition(graft.SparkEntry.names.filterNot(_ == "s3_population"))
      .exists(_.startsWith("unknown queries")))
  }

  test("the result hash ignores row and column order but not values") {
    val rows = Array(Row(1L, 0.5, "a"), Row(2L, -0.0, null))
    val h = Catalog.hash(Seq("k", "x", "s"), rows)
    assert(Catalog.hash(Seq("k", "x", "s"), rows.reverse) == h)
    assert(Catalog.hash(Seq("s", "k", "x"),
      rows.map(r => Row(r.get(2), r.get(0), r.get(1)))) == h)
    assert(Catalog.hash(Seq("k", "x", "s"),
      Array(Row(1L, 0.5, "a"), Row(2L, 1e-17, null))) != h)
  }

  test("stored hashes pass, and one corrupted hash makes error_rate non-zero") {
    val clean = run(expected)
    assert(clean("failed") == 0L, clean("failures"))
    assert(clean("error_rate") == 0.0)

    val lines = Files.readAllLines(Paths.get(expected)).asScala.map { l =>
      if (!l.startsWith("m15_pps\t")) l
      else { val f = l.split('\t'); s"${f(0)}\t${f(1).reverse}\t${f(2)}" }
    }
    val corrupted = Files.createTempFile("graft-bench-expected", ".tsv")
    try {
      Files.write(corrupted, lines.asJava)
      val bad = run(corrupted.toString)
      assert(bad("failures") == Seq("m15_pps"))
      assert(bad("error_rate").asInstanceOf[Double] > 0.0)
    } finally Files.deleteIfExists(corrupted)
  }
}
