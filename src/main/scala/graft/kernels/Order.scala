package graft.kernels

import scala.collection.mutable
import graft.model.BBox
import Geometry.pyRound2

/** Reading-order resolution — a faithful re-derivation of the
  * reference's `OrderGenerator`
  * (deepdoctection/pipe/order.py:46-371): words→lines within a block,
  * blocks→page via greedy column detection, column consolidation
  * (IoA>0.9), vertically-connected components of columns, and final
  * (row, column, y, x) ordering. Deterministic, row-local, O(n²)
  * worst-case over the (small) per-turn block array — runs inside
  * `mapPartitions`, never shuffles.
  *
  * Tie-breaking parity notes (SURVEY §7.4): all sorts are stable
  * (the reference relies on Python Timsort; the hot path uses
  * [[IdxSort]] over primitive key arrays, the id-keyed reference port
  * Scala's stable `sortBy`), coordinate tie-break keys use Python
  * `round(x, 2)` semantics via [[Geometry.pyRound2]].
  */
object Order {

  /** Mutable box used where the reference mutates `BoundingBox` in
    * place (column growth, rounding inside `_connected_components`).
    */
  private[graft] final class MBox(var ulx: Double, var uly: Double, var lrx: Double, var lry: Double)

  /** order.py:71 `group_words_into_lines`.
    *
    * Assigns each word to a horizontal row: a word joins the first row
    * whose vertical bounds contain the word's y-center, or whose row
    * y-center falls within the word's bounds; row bounds are fixed by
    * the first word that defines the row. Rows are then sorted by their
    * upper coordinate and words within by x-center.
    *
    * @param words (id, box) in input order
    * @return triples (1-based reading position, line number, id) —
    *         line number = numberRows - originalRowIndex, as in the
    *         reference (order.py:133).
    */
  def groupWordsIntoLines(words: Seq[(String, BBox)]): List[(Int, Int, String)] = {
    val ids = words.map(_._1).toIndexedSeq
    groupWordsIntoLinesIdx(words.map(_._2).toIndexedSeq)
      .map { case (pos, line, i) => (pos, line, ids(i)) }
  }

  /** [[groupWordsIntoLines]] by index: triples (position, line, index
    * into `boxes`). A view of [[wordLines]].
    */
  def groupWordsIntoLinesIdx(boxes: IndexedSeq[BBox]): List[(Int, Int, Int)] = {
    val wl = wordLines(boxes, IdxSort.identity(boxes.length), boxes.length)
    List.tabulate(boxes.length)(p => (p + 1, wl.line(p), wl.word(p)))
  }

  /** Result of [[wordLines]]: the word at 0-based reading position `p`
    * is member `word(p)` (an index into the `members` argument) on
    * line `line(p)`; `rows` is the number of lines.
    */
  final class WordLines(val word: Array[Int], val line: Array[Int], val rows: Int)

  /** The row predicate of order.py:102-106: does `box` join the row
    * with bounds `upper`/`lower`?
    */
  private def joinsRow(upper: Double, lower: Double, box: BBox): Boolean = {
    val rowCy = (upper + lower) / 2.0
    (upper < box.cy && box.cy < lower) || (box.uly < rowCy && rowCy < box.lry)
  }

  /** True when [[wordLines]] over the same members finds one row: every
    * later box joins the row the first box opens. O(n), no allocation.
    */
  private[graft] def singleRow(boxes: IndexedSeq[BBox], members: Array[Int], n: Int): Boolean = {
    val first = boxes(members(0))
    var k = 1
    while (k < n) {
      if (!joinsRow(first.uly, first.lry, boxes(members(k)))) return false
      k += 1
    }
    true
  }

  /** Index core of [[groupWordsIntoLines]] over the words
    * `boxes(members(k))`, `k < n`, in that order: primitive arrays
    * throughout, no tuples, no boxed sort keys.
    */
  def wordLines(boxes: IndexedSeq[BBox], members: Array[Int], n: Int): WordLines = {
    val wordRow = new Array[Int](n) // orig row idx per word, in input order
    val rowUpper = new Array[Double](n)
    val rowLower = new Array[Double](n)
    val cxKey = new Array[Double](n)
    var rows = 0
    var k = 0
    while (k < n) {
      val box = boxes(members(k))
      cxKey(k) = box.cx
      var row = -1
      var idx = 0
      while (idx < rows && row < 0) {
        if (joinsRow(rowUpper(idx), rowLower(idx), box)) row = idx
        idx += 1
      }
      if (row < 0) {
        rowUpper(rows) = box.uly; rowLower(rows) = box.lry
        row = rows
        rows += 1
      }
      wordRow(k) = row
      k += 1
    }
    // order.py:120-123: map used with original index as key — the
    // value is the ORIGINAL index of the row at that sorted position
    // (ported literally, including the inverted lookup).
    val sortedOrig = IdxSort.identity(rows) // position -> orig idx
    IdxSort.sort(sortedOrig, 0, rows, rowUpper, null)
    // stable sort by (row position, x-center)
    val rowKey = rowLower // reused: no longer needed
    k = 0
    while (k < n) { rowKey(k) = sortedOrig(wordRow(k)); k += 1 }
    val order = IdxSort.identity(n)
    IdxSort.sort(order, 0, n, rowKey, cxKey)
    val line = new Array[Int](n)
    var p = 0
    while (p < n) { line(p) = rows - wordRow(order(p)); p += 1 }
    new WordLines(order, line, rows)
  }

  /** order.py:341 `_consolidate_columns`: child→parent where child
    * column is ≥`ioaThreshold` inside parent (fraction of child area
    * covered); like the reference's `dict(zip(nonzero))`, the LAST
    * matching parent per child wins. Unmatched columns are renumbered
    * 0,1,2,… in discovery order.
    */
  private def consolidateColumns(columns: collection.IndexedSeq[MBox], ioaThreshold: Double): Array[Int] = {
    val n = columns.length
    val dict = Array.fill(n)(-1)
    var i = 0
    while (i < n) {
      var j = 0
      while (j < n) {
        if (i != j) {
          val a = columns(i); val b = columns(j)
          val interW = math.max(0.0, math.min(a.lrx, b.lrx) - math.max(a.ulx, b.ulx))
          val interH = math.max(0.0, math.min(a.lry, b.lry) - math.max(a.uly, b.uly))
          val areaI = math.max(0.0, a.lrx - a.ulx) * math.max(0.0, a.lry - a.uly)
          val ioaOverI = if (areaI <= 0.0) 0.0 else interW * interH / areaI
          if (ioaOverI > ioaThreshold) dict(i) = j // last parent wins
        }
        j += 1
      }
      i += 1
    }
    var counter = 0
    var k = 0
    while (k < n) {
      if (dict(k) < 0) { dict(k) = counter; counter += 1 }
      k += 1
    }
    dict
  }

  /** order.py:296-298: the distinct consolidation targets, in column
    * order. `BoundingBox.__eq__` compares the EXACT internal coords
    * (box.py:448-459 `_key`), not the 2-decimal-rounded values —
    * rounding happens later, inside `_connected_components`. Two
    * parents that would only collide after rounding stay separate
    * here, exactly as in the reference.
    */
  private def distinctTargets(columns: collection.IndexedSeq[MBox], consolidated: Array[Int]): collection.IndexedSeq[MBox] = {
    val out = mutable.ArrayBuffer.empty[MBox]
    for (idx <- columns.indices) {
      val t = columns(consolidated(idx))
      if (!out.exists(o => o.ulx == t.ulx && o.uly == t.uly && o.lrx == t.lrx && o.lry == t.lry))
        out += t
    }
    out
  }

  /** order.py:164 `_connected_components`: group columns that
    * vertically overlap; within a component sort columns by rounded
    * (ulx, uly) (mutating the boxes' rounded coords, as the reference
    * does); components sorted by top. Returns the column indices in
    * final column order.
    *
    * The reference rounds every column of every component and re-sorts
    * on each insertion (order.py:189-196). Rounding is idempotent and
    * the per-component sort is stable, so each column is rounded once,
    * right after its own insertion, and each component sorted once at
    * the end; only the component order, which decides where the next
    * column goes, is kept sorted on every insertion.
    */
  private[graft] def connectedComponents(columns: collection.IndexedSeq[MBox]): Array[Int] = {
    val m = columns.length
    val top = new Array[Double](m)
    val bottom = new Array[Double](m)
    val compOf = new Array[Int](m)
    val comps = new Array[Int](m) // component ids in current order
    var nComps = 0
    var idx = 0
    while (idx < m) {
      val col = columns(idx)
      var found = -1
      var c = 0
      while (c < nComps && found < 0) {
        val id = comps(c)
        if ((top(id) < col.uly && col.uly < bottom(id)) ||
            (top(id) < col.lry && col.lry < bottom(id)) ||
            (col.uly < top(id) && top(id) < col.lry) ||
            (col.uly < bottom(id) && bottom(id) < col.lry)) {
          top(id) = math.min(top(id), col.uly)
          bottom(id) = math.max(bottom(id), col.lry)
          found = id
        }
        c += 1
      }
      if (found < 0) {
        found = nComps
        top(found) = col.uly; bottom(found) = col.lry
        comps(nComps) = found
        nComps += 1
      }
      compOf(idx) = found
      col.ulx = pyRound2(col.ulx)
      col.uly = pyRound2(col.uly)
      IdxSort.sort(comps, 0, nComps, top, null)
      idx += 1
    }
    // each component's columns, in insertion order, then stable-sorted
    // by the rounded (ulx, uly)
    val ulx = new Array[Double](m)
    val uly = new Array[Double](m)
    idx = 0
    while (idx < m) { ulx(idx) = columns(idx).ulx; uly(idx) = columns(idx).uly; idx += 1 }
    val out = new Array[Int](m)
    var o = 0
    var c = 0
    while (c < nComps) {
      val start = o
      idx = 0
      while (idx < m) { if (compOf(idx) == comps(c)) { out(o) = idx; o += 1 }; idx += 1 }
      IdxSort.sort(out, start, o, ulx, uly)
      c += 1
    }
    out
  }

  /** order.py:201 `order_blocks` — the block-level reading order.
    *
    * Each occurrence keeps its own box through the sort, the column
    * assignment and the per-column sort, as the reference's annotation
    * objects do. The reference gates block membership by id
    * (order.py:364), so duplicate ids landing in DIFFERENT columns may
    * read differently there; that case is not pinned.
    *
    * @param anns (id, box) per block; boxes absolute or relative
    * @param pageWidth page width for absolute→relative transform
    * @param pageHeight page height
    * @return (1-based reading order, id), one per input block
    */
  def orderBlocks(
      anns: Seq[(String, BBox)],
      pageWidth: Double,
      pageHeight: Double,
      startingPointTolerance: Double = 0.005,
      brokenLineTolerance: Double = 0.003,
      heightTolerance: Double = 2.0,
      ioaColumnThreshold: Double = 0.9
  ): Seq[(Int, String)] = {
    val ids = anns.map(_._1).toIndexedSeq
    readingOrder(anns.map(_._2).toIndexedSeq, pageWidth, pageHeight, startingPointTolerance,
      brokenLineTolerance, heightTolerance, ioaColumnThreshold)
      .toList.zipWithIndex.map { case (ai, j) => (j + 1, ids(ai)) }
  }

  /** Index core of [[orderBlocks]]: the indices into `boxes` in reading
    * order. Sort keys are computed once per box into primitive arrays
    * (no per-comparison `pyRound2` or boxed tuples), and the sorts are
    * stable with the reference's tie order. [[orderBlocksById]] pins the
    * equivalence with the literal port on randomized inputs.
    */
  def readingOrder(
      boxes: IndexedSeq[BBox],
      pageWidth: Double,
      pageHeight: Double,
      startingPointTolerance: Double,
      brokenLineTolerance: Double,
      heightTolerance: Double,
      ioaColumnThreshold: Double = 0.9
  ): Array[Int] = {
    val n = boxes.length
    if (n == 0) return Array.emptyIntArray
    val relArr = new Array[BBox](n)
    val cy = new Array[Double](n)
    val cx = new Array[Double](n)
    var i = 0
    while (i < n) {
      val r = boxes(i).toRelative(pageWidth, pageHeight)
      relArr(i) = r; cy(i) = r.cy; cx(i) = r.cx
      i += 1
    }
    // sortedAnns: original indices, stable-sorted by (cy, cx)
    val order = IdxSort.identity(n)
    IdxSort.sort(order, 0, n, cy, cx)

    val columns = mutable.ArrayBuffer.empty[MBox]
    val colOf = new Array[Int](n) // column of each ann
    var oi = 0
    while (oi < n) {
      val ai = order(oi)
      val box = relArr(ai)
      var columnFound = false
      var idx = 0
      while (idx < columns.length && !columnFound) {
        val col = columns(idx)
        val first = (col.ulx - startingPointTolerance < box.ulx) &&
          (box.lrx < col.lrx + startingPointTolerance)
        val second = (box.ulx - startingPointTolerance < col.ulx) &&
          (col.lrx < box.lrx + startingPointTolerance)
        val third = math.abs(box.ulx - col.lrx) < brokenLineTolerance
        val fourth = math.abs(box.uly - col.lry) < heightTolerance * box.height
        val fifth = math.abs(box.lry - col.uly) < heightTolerance * box.height
        if ((first && (fourth || fifth)) || (second && (fourth || fifth)) ||
            (third && (fourth || fifth))) {
          colOf(ai) = idx
          col.ulx = math.min(box.ulx, col.ulx)
          col.uly = math.min(box.uly, col.uly)
          col.lrx = math.max(box.lrx, col.lrx)
          col.lry = math.max(box.lry, col.lry)
          columnFound = true
        }
        idx += 1
      }
      if (!columnFound) {
        columns += new MBox(box.ulx, box.uly, box.lrx, box.lry)
        colOf(ai) = columns.length - 1
      }
      oi += 1
    }

    val consolidated = consolidateColumns(columns, ioaColumnThreshold)
    val targets = distinctTargets(columns, consolidated)
    val finalOrder = connectedComponents(targets)
    val m = finalOrder.length
    val rank = new Array[Int](m) // target index -> final column number
    i = 0
    while (i < m) { rank(finalOrder(i)) = i; i += 1 }
    // column number per ann (order.py's two-step lookup, literally);
    // numbers past the last column are never read, as in the reference
    val rUly = new Array[Double](n)
    val rUlx = new Array[Double](n)
    val count = new Array[Int](m + 1)
    i = 0
    while (i < n) {
      val c = consolidated(colOf(i))
      colOf(i) = if (c < m) rank(c) else consolidated(c)
      if (colOf(i) < m) count(colOf(i) + 1) += 1
      rUly(i) = pyRound2(relArr(i).uly)
      rUlx(i) = pyRound2(relArr(i).ulx)
      i += 1
    }
    // bucket anns by column in sortedAnns order (the tie order the
    // reference preserves), then stable-sort each column by rounded
    // (uly, ulx)
    i = 0
    while (i < m) { count(i + 1) += count(i); i += 1 }
    val out = new Array[Int](count(m))
    val next = java.util.Arrays.copyOf(count, m)
    oi = 0
    while (oi < n) {
      val ai = order(oi)
      val c = colOf(ai)
      if (c < m) { out(next(c)) = ai; next(c) += 1 }
      oi += 1
    }
    i = 0
    while (i < m) { IdxSort.sort(out, count(i), count(i + 1), rUly, rUlx); i += 1 }
    out
  }

  /** The literal order.py:201 port over id-keyed maps, kept only as
    * the unique-id reference that [[orderBlocks]] is checked against.
    * Its maps make a duplicated id resolve to its LAST box, which the
    * reference does not do, so it says nothing about duplicate ids.
    */
  private[graft] def orderBlocksById(
      anns: Seq[(String, BBox)],
      pageWidth: Double,
      pageHeight: Double,
      startingPointTolerance: Double,
      brokenLineTolerance: Double,
      heightTolerance: Double,
      ioaColumnThreshold: Double
  ): Seq[(Int, String)] = {
    val rel: Map[String, BBox] =
      anns.map { case (id, b) => id -> b.toRelative(pageWidth, pageHeight) }.toMap
    val sortedAnns = anns.sortBy { case (id, _) => (rel(id).cy, rel(id).cx) }

    val columns = mutable.ArrayBuffer.empty[MBox]
    // (columnIdx, annId)
    var readingBlocks = mutable.ListBuffer.empty[(Int, String)]
    for ((id, _) <- sortedAnns) {
      val box = rel(id)
      var columnFound = false
      var idx = 0
      while (idx < columns.length && !columnFound) {
        val col = columns(idx)
        val first = (col.ulx - startingPointTolerance < box.ulx) &&
          (box.lrx < col.lrx + startingPointTolerance)
        val second = (box.ulx - startingPointTolerance < col.ulx) &&
          (col.lrx < box.lrx + startingPointTolerance)
        val third = math.abs(box.ulx - col.lrx) < brokenLineTolerance
        val fourth = math.abs(box.uly - col.lry) < heightTolerance * box.height
        val fifth = math.abs(box.lry - col.uly) < heightTolerance * box.height
        if ((first && (fourth || fifth)) || (second && (fourth || fifth)) ||
            (third && (fourth || fifth))) {
          readingBlocks += ((idx, id))
          col.ulx = math.min(box.ulx, col.ulx)
          col.uly = math.min(box.uly, col.uly)
          col.lrx = math.max(box.lrx, col.lrx)
          col.lry = math.max(box.lry, col.lry)
          columnFound = true
        }
        idx += 1
      }
      if (!columnFound) {
        columns += new MBox(box.ulx, box.uly, box.lrx, box.lry)
        readingBlocks += ((columns.length - 1, id))
      }
    }

    val consolidated = consolidateColumns(columns.toIndexedSeq, ioaColumnThreshold)
    val consolidatedColumns = distinctTargets(columns.toIndexedSeq, consolidated)

    readingBlocks = readingBlocks.map { case (c, id) => (consolidated(c), id) }

    val columnsDict: Map[Int, Int] =
      connectedComponents(consolidatedColumns).zipWithIndex.map { case (origIdx, k) => origIdx -> k }.toMap

    val blocks = readingBlocks.toList
      .map { case (c, id) => (columnsDict.getOrElse(c, consolidated(c)), id) }
      .sortBy(_._1)
    val maxBlockNumber = if (columnsDict.isEmpty) 0 else columnsDict.values.max
    val sortedBlocks = mutable.ListBuffer.empty[(Int, String)]
    for (idx <- 0 to maxBlockNumber) {
      val filtered = blocks.filter(_._1 == idx)
      sortedBlocks ++= sortAnnsGroupedByBlocks(filtered, sortedAnns, rel)
    }
    sortedBlocks.toList.zipWithIndex.map { case ((_, id), i) => (i + 1, id) }
  }

  /** order.py:351 `_sort_anns_grouped_by_blocks` — within one column
    * sort blocks by rounded (uly, ulx), preserving the caller's ann
    * ordering on ties.
    */
  private def sortAnnsGroupedByBlocks(
      block: Seq[(Int, String)],
      anns: Seq[(String, BBox)],
      rel: Map[String, BBox]
  ): List[(Int, String)] = {
    if (block.isEmpty) return Nil
    val annIds = block.map(_._2).toSet
    val blockNumber = block.head._1
    anns
      .collect { case (id, _) if annIds.contains(id) => id }
      .sortBy(id => (pyRound2(rel(id).uly), pyRound2(rel(id).ulx)))
      .map(id => (blockNumber, id))
      .toList
  }
}
