package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.model._
import graft.kernels._

/** Pure-kernel unit tests mirroring the reference's fixture-driven
  * suites (SURVEY §5): id determinism (test_ann_ids.py), box geometry
  * (test_box_geom.py), reading order (test_order.py), matching
  * (test_match.py), NMS.
  */
class IdsSpec extends AnyFunSuite {
  // vectors generated with CPython: uuid.uuid3(uuid.NAMESPACE_DNS, s)
  test("uuid3 matches Python uuid.uuid3(NAMESPACE_DNS, ...)") {
    assert(Ids.uuid3("") == "c87ee674-4ddc-3efe-a74e-dfe25da5d7b3")
    assert(Ids.uuid3("a") == "4c104dd0-4821-30d5-9ce3-0e7a1f8b7c0d")
    assert(Ids.uuid3("hello world") == "11f3c98e-ee6f-32d6-93cc-8ea97b77b2a0")
    assert(Ids.uuid3("conv-42#7") == "531fa70b-a889-3476-ba36-ee8adb858806")
    assert(Ids.uuid3("türn-ünïcode") == "6e22d4a2-e66b-38bd-aa7d-e26e709926a6")
  }
  test("uuid3 concatenation and composed ids") {
    assert(Ids.uuid3("conv-42", "#7") == Ids.uuid3("conv-42#7"))
    assert(Ids.uuid3("conv-big#123textword0_5") == "0624ee57-a12e-381c-80c8-08911cbdc193")
    assert(Ids.turnId("conv-42", 7) == Ids.uuid3("conv-42#7"))
  }
  test("AnnIdBuilder is byte-identical to concat annId across the full Int range") {
    val turnId = Ids.turnId("conv-x", 0)
    val b = new Ids.AnnIdBuilder(turnId)
    for ((lo, hi) <- Seq((0, 5), (-3, 7), (Int.MinValue, Int.MaxValue),
        (Int.MinValue, 0), (-1, Int.MinValue)))
      assert(b.annId("word", lo, hi) == Ids.annId(turnId, "word", lo, hi),
        s"($lo, $hi)")
  }
}

class GeometrySpec extends AnyFunSuite {
  private val a = BBox(0, 0, 10, 10, absCoords = true)
  private val b = BBox(5, 5, 15, 15, absCoords = true)
  private val c = BBox(20, 20, 30, 30, absCoords = true)

  test("iou of half-overlapping boxes") {
    assert(math.abs(Geometry.iou(a, b) - 25.0 / 175.0) < 1e-12)
    assert(Geometry.iou(a, c) == 0.0)
    assert(Geometry.iou(a, a) == 1.0)
  }
  test("ioa is asymmetric: intersection over SECOND box's area") {
    val small = BBox(0, 0, 5, 5, absCoords = true)
    assert(Geometry.ioa(a, small) == 1.0) // small fully inside a
    assert(math.abs(Geometry.ioa(small, a) - 0.25) < 1e-12)
  }
  test("merge and intersection boxes") {
    val m = Geometry.mergeBoxes(Seq(a, c))
    assert(m == BBox(0, 0, 30, 30, absCoords = true))
    assert(Geometry.intersectionBox(a, b).contains(BBox(5, 5, 10, 10, absCoords = true)))
    assert(Geometry.intersectionBox(a, c).isEmpty)
  }
  test("rounding replicates reference half-up/half-down (box.py:206-213)") {
    assert(Geometry.roundHalfUp(2.5) == 3)
    assert(Geometry.roundHalfUp(-2.5) == -2)
    assert(Geometry.roundHalfDown(2.5) == 2)
    assert(Geometry.roundHalfDown(2.51) == 3)
    // Python round(x, 2)
    assert(Geometry.pyRound2(0.125) == 0.12)  // half-even
    assert(Geometry.pyRound2(0.135) == 0.14)  // 0.135 is stored as 0.135000...04
    assert(Geometry.pyRound2(1.005) == 1.0)   // 1.005 stored below half
    // CPython vectors where shortest-repr rounding diverges from the
    // exact binary value: round(2.675, 2) == 2.67 because the double
    // is exactly 2.67499999999999982236431605997495353221893310546875
    assert(Geometry.pyRound2(2.675) == 2.67)
    assert(Geometry.pyRound2(2.665) == 2.67)
    assert(Geometry.pyRound2(0.145) == 0.14)  // stored as 0.14499999…
    assert(Geometry.pyRound2(2.5) == 2.5)
    assert(Geometry.pyRound2(-2.675) == -2.67)
  }
  test("pyRound2 is bit-identical to the exact BigDecimal rounding") {
    import java.lang.Double.doubleToRawLongBits
    def exact(x: Double): Double =
      new java.math.BigDecimal(x).setScale(2, java.math.RoundingMode.HALF_EVEN).doubleValue()
    def same(x: Double): Unit =
      assert(doubleToRawLongBits(Geometry.pyRound2(x)) == doubleToRawLongBits(exact(x)),
        s"x=$x (${Geometry.pyRound2(x)} vs ${exact(x)})")
    val rnd = new scala.util.Random(20261018)
    // random doubles over 16 decades, both signs
    for (_ <- 1 to 200000)
      same((rnd.nextDouble() * 2 - 1) * math.pow(10, rnd.nextInt(16) - 8))
    // decimal .x5 ties (never exact in binary) and their neighbours,
    // from ulps up to just past the fast path's 1e-6 guard band
    for (k <- -200000 to 200000 by 13) {
      val t = k / 100.0 + 0.005
      same(t); same(math.nextUp(t)); same(math.nextDown(t))
      for (d <- Seq(1e-12, 1e-10, 1e-9, 1e-8, 9e-9, 1.1e-8)) { same(t + d); same(t - d) }
    }
    // exact binary ties (y = x·100 lands on .5): eighths and friends
    for (n <- -8000 to 8000) { same(n / 8.0); same(n / 40.0); same(n / 200.0) }
    // zeros, values that round to zero, tiny and huge magnitudes, and
    // the edge of the fast path at |x·100| = 1e9
    for (x <- Seq(0.0, -0.0, -0.001, 0.001, -0.004999, -0.005, -0.0050001,
        Double.MinPositiveValue, -Double.MinPositiveValue, 1e-300, -1e-300,
        1e7, -1e7, math.nextDown(1e7), math.nextUp(-1e7), 9999999.995, 1e15, -1e300,
        Double.MaxValue, -Double.MaxValue))
      same(x)
    // not representable: both routes refuse
    assertThrows[NumberFormatException](Geometry.pyRound2(Double.NaN))
    assertThrows[NumberFormatException](Geometry.pyRound2(Double.PositiveInfinity))
  }
}

class OrderSpec extends AnyFunSuite {
  // boxes from the reference integration fixture
  // (tests/pipe/conftest.py:125-158, :203-222)
  private val title = ("title", BBox(100, 160, 200, 260, absCoords = true))
  private val text = ("text", BBox(100, 300, 250, 350, absCoords = true))
  private val w0 = ("w0", BBox(110, 165, 130, 180, absCoords = true))
  private val w1 = ("w1", BBox(140, 162, 180, 180, absCoords = true))
  private val w2 = ("w2", BBox(100, 320, 130, 340, absCoords = true))
  private val w3 = ("w3", BBox(175, 320, 205, 340, absCoords = true))

  test("order_blocks on the reference fixture: title 1, text 2") {
    val res = Order.orderBlocks(Seq(text, title), 1000, 1000)
    assert(res.toMap == Map(1 -> "title", 2 -> "text"))
  }
  test("group_words_into_lines: same-row words ordered by x-center") {
    val triples = Order.groupWordsIntoLines(Seq(w0, w1))
    assert(triples.map(t => (t._1, t._3)) == List((1, "w0"), (2, "w1")))
    val t2 = Order.groupWordsIntoLines(Seq(w3, w2))
    assert(t2.map(t => (t._1, t._3)) == List((1, "w2"), (2, "w3")))
  }
  test("group_words_into_lines: two rows sorted by upper") {
    val triples = Order.groupWordsIntoLines(Seq(w2, w0, w3, w1))
    // rows: row0=(320,340) discovered first, row1=(165,180); sorted by
    // upper → row1 first; line number = numberRows - origRowIdx
    assert(triples.map(_._3) == List("w0", "w1", "w2", "w3"))
    assert(triples.map(_._1) == List(1, 2, 3, 4))
  }
  test("two-column layout: left column read before right") {
    val l1 = ("l1", BBox(0, 10, 400, 100, absCoords = true))
    val l2 = ("l2", BBox(0, 120, 400, 200, absCoords = true))
    val r1 = ("r1", BBox(520, 15, 900, 100, absCoords = true))
    val r2 = ("r2", BBox(520, 120, 900, 200, absCoords = true))
    val res = Order.orderBlocks(Seq(r2, l1, r1, l2), 1000, 1000)
    val byId = res.map(_.swap).toMap
    assert(byId("l1") < byId("l2") && byId("l2") < byId("r1") && byId("r1") < byId("r2"))
  }
  test("stacked single-column blocks read top-down") {
    val blocks = (0 until 5).map(i => (s"b$i", BBox(0, 10 + i * 60, 800, 50 + i * 60, absCoords = true)))
    val res = Order.orderBlocks(scala.util.Random.shuffle(blocks.toList), 1000, 1000)
    assert(res.sortBy(_._1).map(_._2) == blocks.map(_._1))
  }
  test("deterministic under input permutation") {
    val blocks = Seq(
      ("a", BBox(0, 10, 450, 90, absCoords = true)),
      ("b", BBox(0, 110, 450, 190, absCoords = true)),
      ("c", BBox(500, 20, 950, 90, absCoords = true)),
      ("d", BBox(500, 110, 950, 190, absCoords = true)))
    val base = Order.orderBlocks(blocks, 1000, 1000).sortBy(_._2)
    for (p <- blocks.permutations.take(12)) {
      assert(Order.orderBlocks(p.toList, 1000, 1000).sortBy(_._2) == base)
    }
  }
  test("index-keyed hot path equals the id-keyed port on unique-id inputs") {
    // the fast path in orderBlocks is an index-keyed rewrite of
    // orderBlocksById (the literal order.py:201 port); randomized
    // layouts pin the claimed equivalence across columns, overlaps
    // and rounding tie-breaks
    val rnd = new scala.util.Random(20260822)
    for (round <- 1 to 40) {
      val n = 1 + rnd.nextInt(12)
      val anns = (0 until n).map { i =>
        val ulx = rnd.nextInt(900); val uly = rnd.nextInt(900)
        val w = 20 + rnd.nextInt(100 - 19); val h = 20 + rnd.nextInt(81)
        (s"ann$i", BBox(ulx, uly, math.min(999, ulx + w), math.min(999, uly + h), absCoords = true))
      }
      val fast = Order.orderBlocks(anns, 1000, 1000)
      val legacy = Order.orderBlocksById(anns, 1000, 1000, 0.005, 0.003, 2.0, 0.9)
      assert(fast == legacy, s"round $round: $anns")
    }
  }
  test("duplicate ids: each occurrence keeps its own box") {
    // order.py sorts and places annotation OBJECTS, so a duplicated id
    // read in one column keeps each occurrence at its own position: the
    // top X reads before A, the bottom X after it
    val anns = Seq(
      ("X", BBox(50, 100, 950, 250, absCoords = true)),
      ("A", BBox(50, 400, 950, 550, absCoords = true)),
      ("X", BBox(50, 700, 950, 850, absCoords = true)))
    val res = Order.orderBlocks(anns, 1000, 1000)
    assert(res == Seq((1, "X"), (2, "A"), (3, "X")), res.toString)
  }
  test("singleRow equals a one-row group_words_into_lines on random boxes of mixed heights") {
    val rnd = new scala.util.Random(20261019)
    var single = 0
    for (_ <- 1 to 20000) {
      val n = 1 + rnd.nextInt(8)
      val boxes = IndexedSeq.fill(n) {
        val uly = rnd.nextInt(40); val h = 4 + rnd.nextInt(50); val ulx = rnd.nextInt(500)
        BBox(ulx, uly, ulx + 10 + rnd.nextInt(60), uly + h, absCoords = true)
      }
      val oneRow = Order.groupWordsIntoLinesIdx(boxes).map(_._2).distinct.size == 1
      if (oneRow) single += 1
      assert(Order.singleRow(boxes, Array.range(0, n), n) == oneRow, boxes.toString)
    }
    // both outcomes are exercised, not just the trivial one
    assert(single > 2000 && single < 18000, s"$single one-row cases")
  }
  test("connectedComponents: round-once equals the reference's round-all-per-insertion loop") {
    import scala.collection.mutable.ArrayBuffer
    // order.py:164-198 literally: after every insertion, round every
    // column of every component and re-sort all of them
    def literal(columns: IndexedSeq[Order.MBox]): List[Int] = {
      final class Comp(var top: Double, var bottom: Double, val cols: ArrayBuffer[(Int, Order.MBox)])
      val comps = ArrayBuffer.empty[Comp]
      for ((col, idx) <- columns.zipWithIndex) {
        val hit = comps.find(comp =>
          (comp.top < col.uly && col.uly < comp.bottom) ||
          (comp.top < col.lry && col.lry < comp.bottom) ||
          (col.uly < comp.top && comp.top < col.lry) ||
          (col.uly < comp.bottom && comp.bottom < col.lry))
        hit match {
          case Some(comp) =>
            comp.top = math.min(comp.top, col.uly)
            comp.bottom = math.max(comp.bottom, col.lry)
            comp.cols += ((idx, col))
          case None => comps += new Comp(col.uly, col.lry, ArrayBuffer((idx, col)))
        }
        for (comp <- comps) {
          for ((_, b) <- comp.cols) { b.ulx = Geometry.pyRound2(b.ulx); b.uly = Geometry.pyRound2(b.uly) }
          val sorted = comp.cols.sortBy { case (_, b) => (b.ulx, b.uly) }
          comp.cols.clear(); comp.cols ++= sorted
        }
        val sorted = comps.sortBy(_.top)
        comps.clear(); comps ++= sorted
      }
      comps.toList.flatMap(_.cols.map(_._1))
    }
    val rnd = new scala.util.Random(20261020)
    // coarse grids plus sub-cent noise: rounding creates key ties
    def coord(): Double = rnd.nextInt(8) / 8.0 + rnd.nextInt(7) * 0.0013
    for (round <- 1 to 3000) {
      val spec = IndexedSeq.fill(1 + rnd.nextInt(9)) {
        val ulx = coord(); val uly = coord()
        (ulx, uly, ulx + 0.05 + rnd.nextDouble() * 0.3, uly + 0.01 + rnd.nextDouble() * 0.3)
      }
      def boxes = spec.map { case (a, b, c, d) => new Order.MBox(a, b, c, d) }
      val (mine, ref) = (boxes, boxes)
      val got = Order.connectedComponents(mine).toList
      assert(got == literal(ref), s"round $round: $spec")
      assert(mine.map(b => (b.ulx, b.uly, b.lrx, b.lry)) == ref.map(b => (b.ulx, b.uly, b.lrx, b.lry)))
    }
  }
}

class LinesSpec extends AnyFunSuite {
  test("single line merges all words") {
    val words = Seq(
      ("w0", BBox(0, 0, 50, 20, absCoords = true)),
      ("w1", BBox(60, 0, 110, 20, absCoords = true)))
    val lines = Lines.createLines(words, 1000, 1000, makeSubLines = true, paragraphBreak = 0.035)
    assert(lines.length == 1)
    assert(lines.head.childIds.toSet == Set("w0", "w1"))
    assert(lines.head.box == BBox(0, 0, 110, 20, absCoords = true))
  }
  test("paragraph break splits sub-lines (order.py:492)") {
    // gap 0.2 rel > 0.035 → two sub-lines
    val words = Seq(
      ("w0", BBox(0, 0, 50, 20, absCoords = true)),
      ("w1", BBox(60, 0, 110, 20, absCoords = true)),
      ("w2", BBox(320, 0, 380, 20, absCoords = true)))
    val lines = Lines.createLines(words, 1000, 1000, makeSubLines = true, paragraphBreak = 0.035)
    assert(lines.length == 2)
    assert(lines.map(_.childIds.toSet) == List(Set("w0", "w1"), Set("w2")))
  }
}

class MatchSpec extends AnyFunSuite {
  private val blockA = BBox(0, 0, 100, 100, absCoords = true)
  private val blockB = BBox(200, 0, 300, 100, absCoords = true)

  test("ioa containment assignment") {
    val w1 = BBox(10, 10, 30, 30, absCoords = true)   // inside A
    val w2 = BBox(210, 10, 230, 30, absCoords = true) // inside B
    val w3 = BBox(400, 400, 420, 420, absCoords = true) // orphan
    val pairs = Match.matchByIntersection(
      IndexedSeq(blockA, blockB), IndexedSeq(w1, w2, w3), "ioa", 0.3, maxParentOnly = true)
    assert(pairs == Seq((0, 0), (1, 1)))
  }
  test("max_parent_only picks highest-ioa parent (match.py:141)") {
    val overlapping = BBox(50, 0, 150, 100, absCoords = true) // overlaps A 50%
    val w = BBox(40, 40, 60, 60, absCoords = true) // 50% in A... ioa A=1.0 (fully in A), 0.5 in overlapping
    val pairs = Match.matchByIntersection(
      IndexedSeq(overlapping, blockA), IndexedSeq(w), "ioa", 0.3, maxParentOnly = true)
    assert(pairs == Seq((0, 1))) // blockA wins with ioa 1.0 over 0.5
  }
  test("weighted ioa multiplies by intersection count (match.py:154)") {
    // child straddling two parents, 0.5 each: weighted → 1.0 > 0.6
    val w = BBox(50, 0, 150, 100, absCoords = true)
    val plain = Match.matchByIntersection(
      IndexedSeq(blockA, BBox(100, 0, 200, 100, absCoords = true)), IndexedSeq(w), "ioa", 0.6)
    assert(plain.isEmpty)
    val weighted = Match.matchByIntersection(
      IndexedSeq(blockA, BBox(100, 0, 200, 100, absCoords = true)), IndexedSeq(w), "ioa", 0.6,
      useWeightedIntersections = true)
    assert(weighted == Seq((0, 0), (0, 1)))
  }
  test("nearest-parent distance matching (match.py:170)") {
    val w = BBox(150, 40, 170, 60, absCoords = true)
    assert(Match.matchByDistance(IndexedSeq(blockA, blockB), IndexedSeq(w)) == Seq((0, 1)))
  }
}

class NmsSpec extends AnyFunSuite {
  import Nms.Candidate
  test("greedy suppression keeps highest score") {
    val a = Candidate("a", BBox(0, 0, 100, 100, absCoords = true), 0.9, "text")
    val b = Candidate("b", BBox(5, 5, 105, 105, absCoords = true), 0.8, "text")
    val c = Candidate("c", BBox(500, 500, 600, 600, absCoords = true), 0.5, "text")
    assert(Nms.suppress(Seq(b, a, c), 0.5) == Seq("a", "c"))
  }
  test("priority category never suppressed (nms.py:82)") {
    val a = Candidate("a", BBox(0, 0, 100, 100, absCoords = true), 0.9, "text")
    val b = Candidate("b", BBox(5, 5, 105, 105, absCoords = true), 0.8, "table")
    assert(Nms.suppress(Seq(a, b), 0.5, prio = "table").contains("b"))
  }
  test("singleton passes through") {
    val a = Candidate("a", BBox(0, 0, 1, 1, absCoords = true), 0.1, "text")
    assert(Nms.suppress(Seq(a), 0.5) == Seq("a"))
  }
}

/** Round-2 pathological layout cases: three columns with full-width
  * header/footer, ragged column heights, overlap → NMS interplay.
  */
class PathologicalLayoutSpec extends AnyFunSuite {
  import graft.kernels.{Nms, Order}
  import graft.model.BBox

  test("three columns between a full-width header and footer") {
    // Reference semantics (pipe/order.py consolidation at IoA > 0.9):
    // a full-width banner swallows every narrow column into ONE
    // vertically-connected component, whose blocks then read
    // ROW-major (top row left→right, then next row) — whereas
    // free-standing columns (next test) read COLUMN-major. Verified
    // against the port's OrderGenerator behavior.
    val header = ("header", BBox(0, 0, 1000, 80, absCoords = true))
    val footer = ("footer", BBox(0, 920, 1000, 990, absCoords = true))
    val cols = for {
      c <- 0 until 3; r <- 0 until 2
    } yield (s"c${c}r$r", BBox(c * 340, 120 + r * 300, c * 340 + 300, 300 + r * 300, absCoords = true))
    val res = Order.orderBlocks(scala.util.Random.shuffle((header +: footer +: cols).toList), 1000, 1000)
    assert(res.sortBy(_._1).map(_._2) ==
      List("header", "c0r0", "c1r0", "c2r0", "c0r1", "c1r1", "c2r1", "footer"))
    // without the banner, the same columns are separate components and
    // read column-major
    val free = Order.orderBlocks(scala.util.Random.shuffle(cols.toList), 1000, 1000)
    assert(free.sortBy(_._1).map(_._2) ==
      List("c0r0", "c0r1", "c1r0", "c1r1", "c2r0", "c2r1"))
  }

  test("ragged columns: short right column does not interleave the left") {
    val left = (0 until 4).map(i => (s"L$i", BBox(0, 100 + i * 150, 450, 220 + i * 150, absCoords = true)))
    val right = (0 until 2).map(i => (s"R$i", BBox(520, 100 + i * 150, 980, 220 + i * 150, absCoords = true)))
    val res = Order.orderBlocks(scala.util.Random.shuffle((left ++ right).toList), 1000, 1000)
    val byId = res.map(_.swap).toMap
    assert((0 until 3).forall(i => byId(s"L$i") < byId(s"L${i + 1}")))
    assert(byId("L3") < byId("R0") && byId("R0") < byId("R1"))
  }

  test("near-duplicate overlapping blocks: NMS keeps one, order stays stable") {
    val a = Nms.Candidate("a", BBox(0, 0, 100, 100, absCoords = true), 1.0, "text")
    val dup = Nms.Candidate("dup", BBox(2, 2, 101, 101, absCoords = true), 0.9, "text")
    val b = Nms.Candidate("b", BBox(0, 200, 100, 300, absCoords = true), 1.0, "text")
    val kept = Nms.suppress(IndexedSeq(a, dup, b), threshold = 0.8)
    assert(kept.toSet == Set("a", "b"))
    val res = Order.orderBlocks(
      Seq(("a", a.box), ("b", b.box)), 1000, 1000)
    assert(res.toMap == Map(1 -> "a", 2 -> "b"))
  }
}

class AnnIdBuilderSpec extends AnyFunSuite {
  test("incremental-digest ids are byte-identical to the concat path") {
    val turnId = Ids.turnId("conv-42", 7)
    val b = new Ids.AnnIdBuilder(turnId)
    for ((kind, begin, end) <- Seq(("word", 0, 5), ("text", 123, 4567),
        ("line", 0, 0), ("table", 99999, 100000)))
      assert(b.annId(kind, begin, end) == Ids.annId(turnId, kind, begin, end))
  }
}
