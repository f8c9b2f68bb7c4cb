package graft.kernels

import scala.collection.immutable.ArraySeq
import scala.collection.mutable
import graft.model.BBox

/** Synthetic text-line generation from words — re-derivation of the
  * reference's `TextLineGenerator`
  * (deepdoctection/pipe/order.py:389-524): rows by y-center membership
  * (via [[Order.wordLines]]), sub-lines split where the horizontal gap
  * between consecutive words exceeds `paragraphBreak` (relative
  * coords), recursive re-split of emitted sub-lines — including the
  * reference's reset-only-on-single-row accumulator quirk
  * (order.py:517-519).
  *
  * Index-array core ([[linesOf]], the hot path); the id-keyed and
  * `List` APIs are views of it.
  */
object Lines {

  /** A detected line: merged box + child word ids (the reference's
    * `DetectionResult` with `class_name=LINE`, order.py:415-421).
    */
  final case class LineResult(box: BBox, childIds: List[String])

  /** A detected line over the caller's word indices, in line order. */
  final class LineIdxResult(val box: BBox, val words: Array[Int]) {
    def childIdx: IndexedSeq[Int] = ArraySeq.unsafeWrapArray(words)
  }

  /** order.py:423 `create_detection_result` over `boxes` by index.
    * `precomputedOrder` may pass the triples the caller already has
    * from [[Order.groupWordsIntoLinesIdx]] on the same boxes.
    */
  def createLinesIdx(
      boxes: IndexedSeq[BBox],
      pageWidth: Double,
      pageHeight: Double,
      makeSubLines: Boolean,
      paragraphBreak: Double,
      highestLevel: Boolean = true,
      precomputedOrder: List[(Int, Int, Int)] = null
  ): List[LineIdxResult] = {
    val n = boxes.length
    if (n == 0) return Nil
    val members = IdxSort.identity(n)
    val order =
      if (precomputedOrder == null) Order.wordLines(boxes, members, n)
      else {
        val word = new Array[Int](n)
        val line = new Array[Int](n)
        var rows = 0
        var p = 0
        for ((_, l, wi) <- precomputedOrder) {
          word(p) = wi; line(p) = l
          if (l > rows) rows = l
          p += 1
        }
        new Order.WordLines(word, line, rows)
      }
    if (order.rows == 1 && !highestLevel) return Nil
    val out = mutable.ArrayBuffer.empty[LineIdxResult]
    linesOf(boxes, members, n, order, pageWidth, makeSubLines, paragraphBreak, out)
    out.toList
  }

  /** The line core over the words `boxes(members(k))`, `k < n`, whose
    * [[Order.wordLines]] is `order`. Appends the lines to `out`; their
    * `words` hold values of `members`.
    */
  def linesOf(
      boxes: IndexedSeq[BBox],
      members: Array[Int],
      n: Int,
      order: Order.WordLines,
      pageWidth: Double,
      makeSubLines: Boolean,
      paragraphBreak: Double,
      out: mutable.ArrayBuffer[LineIdxResult]
  ): Unit = {
    val rows = order.rows
    // member positions bucketed by line (lines 1..rows), each bucket in
    // reading-position order: a counting sort, stable like the
    // reference's per-row list appends
    val start = new Array[Int](rows + 2)
    var p = 0
    while (p < n) { start(order.line(p) + 1) += 1; p += 1 }
    var r = 1
    while (r <= rows) { start(r + 1) += start(r); r += 1 }
    val byRow = new Array[Int](n)
    val next = java.util.Arrays.copyOf(start, rows + 1)
    p = 0
    while (p < n) {
      val l = order.line(p)
      byRow(next(l)) = order.word(p); next(l) += 1
      p += 1
    }
    val ulx = new Array[Double](n) // the row sort key
    var k = 0
    while (k < n) { ulx(k) = boxes(members(k)).ulx; k += 1 }
    // the gap between two words in relative x-coords (identical
    // arithmetic to BBox.toRelative: ulx/pageWidth)
    def gap(left: Int, right: Int): Double = {
      val l = boxes(members(left)); val r = boxes(members(right))
      (if (r.absCoords) r.ulx / pageWidth else r.ulx) -
        (if (l.absCoords) l.lrx / pageWidth else l.lrx)
    }
    val sub = new Array[Int](n) // the current sub-line, as member values
    r = 1
    while (r <= rows) {
      val s = start(r)
      val e = start(r + 1)
      // this row's words sorted by ulx (order.py:466-469)
      IdxSort.sort(byRow, s, e, ulx, null)
      if (e - s < 2 || !makeSubLines) {
        var j = s
        while (j < e) { sub(j - s) = members(byRow(j)); j += 1 }
        emitMerged(boxes, sub, e - s, out)
      } else {
        sub(0) = members(byRow(s))
        var subLen = 1
        var j = s + 1
        while (j < e) {
          if (gap(byRow(j - 1), byRow(j)) < paragraphBreak) {
            sub(subLen) = members(byRow(j)); subLen += 1
          } else {
            // reference resets the accumulator only when the recursion
            // found a single row (order.py:517-519) — quirk preserved
            if (!recurse(boxes, sub, subLen, pageWidth, makeSubLines, paragraphBreak, out)) {
              emitMerged(boxes, sub, subLen, out)
              sub(0) = members(byRow(j)); subLen = 1
            }
          }
          if (j == e - 1 &&
              !recurse(boxes, sub, subLen, pageWidth, makeSubLines, paragraphBreak, out))
            emitMerged(boxes, sub, subLen, out)
          j += 1
        }
      }
      r += 1
    }
  }

  /** order.py:500-510: re-line a sub-line, which may span several
    * visual lines. A sub-line on one row is left to the caller (false);
    * otherwise its lines are emitted (true).
    */
  private def recurse(boxes: IndexedSeq[BBox], sub: Array[Int], n: Int, pageWidth: Double,
      makeSubLines: Boolean, paragraphBreak: Double,
      out: mutable.ArrayBuffer[LineIdxResult]): Boolean =
    if (Order.singleRow(boxes, sub, n)) false
    else {
      val members = java.util.Arrays.copyOf(sub, n)
      linesOf(boxes, members, n, Order.wordLines(boxes, members, n), pageWidth,
        makeSubLines, paragraphBreak, out)
      true
    }

  /** One line of `words(0 until n)` under their merged box. */
  private def emitMerged(boxes: IndexedSeq[BBox], words: Array[Int], n: Int,
      out: mutable.ArrayBuffer[LineIdxResult]): Unit = {
    val ws = java.util.Arrays.copyOf(words, n)
    val bs = new Array[BBox](n)
    var i = 0
    while (i < n) { bs(i) = boxes(ws(i)); i += 1 }
    out += new LineIdxResult(Geometry.mergeBoxes(bs), ws)
  }

  /** Id-keyed API (fixtures/tests); delegates to the index core. */
  def createLines(
      words: Seq[(String, BBox)],
      pageWidth: Double,
      pageHeight: Double,
      makeSubLines: Boolean,
      paragraphBreak: Double,
      highestLevel: Boolean = true
  ): List[LineResult] = {
    val ids = words.map(_._1).toIndexedSeq
    createLinesIdx(words.map(_._2).toIndexedSeq, pageWidth, pageHeight,
      makeSubLines, paragraphBreak, highestLevel)
      .map(lr => LineResult(lr.box, lr.words.map(ids(_)).toList))
  }
}
