package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** [[Bench.run]]'s two outputs: the detail file carries each timed query's
  * compiles per pass (`detail_codegen`), and the last stdout line stays the
  * compact contract object. */
class BenchOutputSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.session
  private val json = new ObjectMapper

  private def fields(n: JsonNode): Seq[String] = n.fieldNames.asScala.toSeq

  test("Bench's detail file carries detail_codegen for both passes; the " +
    "contract line is unchanged") {
    val queries = Seq("q03_filter", "q07_histogram")
    val detailOut = Scratch.lasting("graft-bench-detail").resolve("d.json")
    val stdout = new java.io.ByteArrayOutputStream
    Console.withOut(stdout) {
      Bench.run(spark, SparkSuite.sf, queries.toSet, detailOut.toString)
    }
    val detail = json.readTree(detailOut.toFile)
    assert(fields(detail) ===
      Seq("detail_queries", "detail_nosort", "detail_codegen"))
    assert(fields(detail.get("detail_queries")) === queries)
    val codegen = detail.get("detail_codegen")
    assert(fields(codegen) === queries)
    for (q <- queries) {
      val passes = codegen.get(q)
      assert(fields(passes) === Seq("sorted", "nosort"), q)
      for (p <- Seq("sorted", "nosort")) {
        val c = passes.get(p)
        assert(fields(c) === Seq("classes", "compile_s"), s"$q $p")
        assert(c.get("classes").isIntegralNumber &&
          c.get("classes").asLong >= 0, s"$q $p: $c")
        assert(c.get("compile_s").isNumber &&
          c.get("compile_s").asDouble >= 0, s"$q $p: $c")
      }
    }

    val lines = stdout.toString("UTF-8").linesIterator
      .filter(_.nonEmpty).toSeq
    assert(json.readTree(lines.init.last) === detail,
      "the detail line on stdout differs from the detail file")
    val contract = json.readTree(lines.last)
    assert(fields(contract) ===
      Seq("metric", "value", "unit", "queries", "nosort_total", "sf"))
    assert(contract.get("metric").asText === "total")
    assert(contract.get("unit").asText === "sec")
    assert(contract.get("sf").asText === SparkSuite.sf)
    assert(fields(contract.get("queries")) === Seq("q03", "q07"))
    assert(contract.get("value").isNumber &&
      contract.get("nosort_total").isNumber)
  }
}
