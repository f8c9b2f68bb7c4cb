package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.tools.MakeGolden

/** Golden-file regression gate (reference strategy: canonical Page-JSON
  * assets, SURVEY §5 item 4): full extraction output for the first 3
  * turns of every conversation at sf0.001, committed as jsonl. Any
  * semantic drift in segmentation / ordering / classification /
  * metrics / ids fails this diff. `golden_turns.jsonl` pins the blocks,
  * `golden_words_lines.jsonl` every word, line and table of the same
  * rows (both written by [[graft.tools.MakeGolden]]).
  */
class GoldenSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def assertGolden(actual: Array[String], file: String): Unit = {
    val goldenUrl = getClass.getResource("/" + file)
    assert(goldenUrl != null, s"$file missing from test resources")
    val golden = scala.io.Source.fromURL(goldenUrl, "UTF-8").getLines().toArray

    assert(actual.length == golden.length,
      s"row count drift: ${actual.length} vs golden ${golden.length}")
    val diffs = actual.zip(golden).zipWithIndex.collect {
      case ((a, g), i) if a != g =>
        val at = a.zip(g).indexWhere { case (x, y) => x != y } match {
          case -1 => math.min(a.length, g.length)
          case k => k
        }
        val from = math.max(0, at - 80)
        s"row $i differs at char $at:\n  actual: ${a.slice(from, at + 120)}\n" +
          s"  golden: ${g.slice(from, at + 120)}"
    }
    assert(diffs.isEmpty, diffs.take(3).mkString("\n"))
  }

  test("extraction output matches the committed golden file") {
    assertGolden(MakeGolden.blocksRows(spark, TestSpark.sfDir), MakeGolden.BlocksFile)
  }

  test("words, lines and tables match the committed golden file") {
    assertGolden(MakeGolden.wordsLinesRows(spark, TestSpark.sfDir), MakeGolden.WordsLinesFile)
  }
}
