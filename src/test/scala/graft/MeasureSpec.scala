package graft

import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.tools.Measure

class MeasureSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val Unknown = "no_such_query"
  private lazy val results =
    Measure.measure(spark, TestSpark.sfDir, Seq("x1_extract", Unknown), 2)

  test("the report's final plan is the executed adaptive plan of a timed run") {
    val report = results.find(_.name == "x1_extract").get.report
    val fin = report.substring(report.indexOf("== FINAL PLAN"), report.indexOf("== TIMED RUNS =="))
    assert(fin.contains("isFinalPlan=true"), fin)
  }

  test("an unknown query lands in excluded, not in queries") {
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Measure.json(results, TestSpark.sfDir, 2))
    assert(json.fieldNames.asScala.toSet ==
      Set("metric", "queries", "excluded", "total_query_sec", "sf", "samples", "sink"))
    assert(json.get("queries").fieldNames.asScala.toList == List("x1_extract"))
    assert(json.get("excluded").elements.asScala.map(_.asText).toList == List(Unknown))
    assert(json.get("sink").asText == "noop")
  }

  test("every recorded job has its end event and a non-negative duration") {
    val jobs = results.flatMap(_.runs).flatMap(_.jobs)
    assert(jobs.nonEmpty)
    assert(jobs.forall(_.sec.exists(_ >= 0)), jobs)
  }
}
