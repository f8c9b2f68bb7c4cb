package graft

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import graft.model.Turn
import graft.pipeline.Extract
import graft.kernels.{Json, Segment, Table, Teds}

/** Hostile-payload robustness for the TEXT extraction path — the twin
  * of PdfFuzzSpec. `extractTurn` quarantines a row on any NonFatal
  * error or StackOverflowError, but a quarantined row is lost output
  * — so every parser on the per-turn path must be iterative
  * (or depth-bounded) under adversarial nesting: million-deep tag
  * nesting, million-deep JSON brackets, unclosed-tag floods, entity
  * floods, and deterministic random mutations of well-formed
  * payloads. Also drives the eval-side TEDS tree kernel, whose input
  * is arbitrary table HTML.
  */
class ExtractFuzzSpec extends AnyFunSuite {

  private val ts = new Timestamp(0L)
  private def turn(text: String, tool: String = ""): Turn =
    Turn("conv-fuzz", 0, "assistant", text, tool, ts)

  private def noThrow(label: String)(body: => Any): Unit =
    try { body; () } catch {
      case e: Throwable =>
        fail(s"$label threw ${e.getClass.getName}: ${String.valueOf(e.getMessage).take(200)}")
    }

  test("a StackOverflowError inside the kernel quarantines the row, not the task") {
    val cfg = graft.pipeline.ExtractConfig(
      tokenClassifier = Some(_ => throw new StackOverflowError("hostile row")))
    var et: graft.model.ExtractedTurn = null
    noThrow("extractTurn overflowing classifier") {
      et = Extract.extractTurn(turn("<p>hello world</p>"), cfg)
    }
    assert(et.metrics.parseFailed)
    assert(et.conv_id == "conv-fuzz" && et.extractedText == "" && et.words.isEmpty)
    // the same turn without the hostile classifier extracts normally
    assert(!Extract.extractTurn(turn("<p>hello world</p>")).metrics.parseFailed)
  }

  test("million-deep nested block tags neither throw nor overflow the stack") {
    val deep = "<div>" * 1000000
    noThrow("segmentHtml deep-div")(Segment.segmentHtml(deep + "x"))
    noThrow("extractTurn deep-div")(Extract.extractTurn(turn(deep + "x")))
    val deepClose = ("<div>" * 200000) + "x" + ("</div>" * 200000)
    noThrow("extractTurn deep-div closed")(Extract.extractTurn(turn(deepClose)))
  }

  test("deeply nested tables survive parseTables, extractTurn, and TEDS") {
    val nested = ("<table><tr><td>" * 100000) + "x"
    noThrow("parseTables deep")(Table.parseTables(nested))
    noThrow("extractTurn deep-table")(Extract.extractTurn(turn(nested)))
    noThrow("teds deep")(
      Teds.similarity(nested, "<table><tr><td>y</td></tr></table>"))
  }

  test("million-deep JSON bracket nesting in the tool payload") {
    val deepArr = "[" * 1000000
    noThrow("toolText deep-array")(Json.toolText(deepArr + "\"v\""))
    noThrow("extractTurn deep-json")(Extract.extractTurn(turn("text", deepArr + "\"v\"")))
    val deepObj = "{\"k\":" * 500000
    noThrow("toolText deep-object")(Json.toolText(deepObj + "1"))
  }

  test("entity floods, unclosed tags, null bytes, lone surrogates") {
    val entities = "&amp;&lt;&#65;&#x1F600;" * 50000
    noThrow("entities")(Extract.extractTurn(turn(s"<p>$entities</p>")))
    val unclosed = "<a href='x'><b><i>" * 100000
    noThrow("unclosed")(Extract.extractTurn(turn(unclosed + "word")))
    val junk = new String(Array.tabulate[Char](65536)(i => i.toChar))
    noThrow("all-chars")(Extract.extractTurn(turn(junk, junk)))
    noThrow("lone-surrogate")(Extract.extractTurn(turn("a\ud800b \udc00c", "{\"k\":\"\ud800\"}")))
  }

  test("deterministic random mutations of a well-formed payload never throw") {
    val base = ("<html><head><title>t</title></head><body><nav>menu</nav>" +
      "<div style='width:50%'><h1>Header</h1><p>Some body text with <a href='#'>a link</a> " +
      "and more words to segment.</p><table><tr><th colspan='2'>H</th></tr>" +
      "<tr><td>a</td><td>b</td></tr></table></div><footer>foot</footer></body></html>")
    val tool = """{"name":"search","args":{"q":"query text","k":5},"result":["a","b"]}"""
    val rnd = new java.util.Random(0xF00D)
    val structural = "<>&\"'/= []{}:,".toCharArray
    for (i <- 0 until 400) {
      val tb = base.toCharArray
      val ob = tool.toCharArray
      for (_ <- 0 to rnd.nextInt(6)) {
        val arr = if (rnd.nextBoolean()) tb else ob
        arr(rnd.nextInt(arr.length)) = structural(rnd.nextInt(structural.length))
      }
      val (tm, om) = (new String(tb), new String(ob))
      val cut = 1 + rnd.nextInt(tm.length - 1)
      noThrow(s"mutant#$i") {
        val et = Extract.extractTurn(turn(tm, om))
        assert(et.turn_idx == 0) // quarantined or extracted, always a row
        Extract.extractTurn(turn(tm.substring(0, cut), om))
      }
    }
  }
}
