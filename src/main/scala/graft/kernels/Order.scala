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
  * (the reference relies on Python Timsort; we use Scala's stable
  * `sortBy`), coordinate tie-break keys use Python `round(x, 2)`
  * semantics via [[Geometry.pyRound2]].
  */
object Order {

  /** Mutable box used where the reference mutates `BoundingBox` in
    * place (column growth, rounding inside `_connected_components`).
    * Equality mirrors the reference's value-semantics equality on the
    * 2-decimal rounded key (box.py:448-459).
    */
  private final class MBox(var ulx: Double, var uly: Double, var lrx: Double, var lry: Double) {
    def height: Double = lry - uly
    def key: (Double, Double, Double, Double) =
      (pyRound2(ulx), pyRound2(uly), pyRound2(lrx), pyRound2(lry))
    def toBBox: BBox = BBox(ulx, uly, lrx, lry, absCoords = false)
  }

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

  /** Index-based core of [[groupWordsIntoLines]] (hot path: no string
    * keys, no boxing beyond the result list).
    */
  def groupWordsIntoLinesIdx(boxes: IndexedSeq[BBox]): List[(Int, Int, Int)] = {
    val n = boxes.length
    val wordRow = new Array[Int](n) // orig row idx per word, in input order
    val rowUpper = mutable.ArrayBuffer.empty[Double]
    val rowLower = mutable.ArrayBuffer.empty[Double]
    var w = 0
    while (w < n) {
      val box = boxes(w)
      var rowFound = false
      var idx = 0
      while (idx < rowUpper.length && !rowFound) {
        val upper = rowUpper(idx); val lower = rowLower(idx)
        val rowCy = (upper + lower) / 2.0
        if ((upper < box.cy && box.cy < lower) || (box.uly < rowCy && rowCy < box.lry)) {
          wordRow(w) = idx
          rowFound = true
        }
        idx += 1
      }
      if (!rowFound) {
        rowUpper += box.uly; rowLower += box.lry
        wordRow(w) = rowUpper.length - 1
      }
      w += 1
    }
    // order.py:120-123: map used with original index as key — the
    // value is the ORIGINAL index of the row at that sorted position
    // (ported literally, including the inverted lookup).
    val sortedOrig: Array[Int] =
      rowUpper.indices.sortBy(i => rowUpper(i)).toArray // position -> orig idx
    // stable sort by (row position, x-center) via a comparator over
    // precomputed key arrays — sortBy re-evaluates its key function
    // (allocating a boxed tuple) at EVERY comparison, which was a
    // measured kernel hot spot; java.util.Arrays.sort on a boxed
    // index array is the same TimSort (stable) and Double.compare is
    // the same total order Ordering.Double uses. Output identical.
    val rowKey = new Array[Int](n)
    val cxKey = new Array[Double](n)
    var i = 0
    while (i < n) {
      rowKey(i) = sortedOrig(wordRow(i))
      cxKey(i) = boxes(i).cx
      i += 1
    }
    val order = new Array[Integer](n)
    i = 0
    while (i < n) { order(i) = Integer.valueOf(i); i += 1 }
    java.util.Arrays.sort(order, new java.util.Comparator[Integer] {
      override def compare(a: Integer, b: Integer): Int = {
        val ai = a.intValue; val bi = b.intValue
        val c = java.lang.Integer.compare(rowKey(ai), rowKey(bi))
        if (c != 0) c else java.lang.Double.compare(cxKey(ai), cxKey(bi))
      }
    })
    val numberRows = rowUpper.length
    val outB = List.newBuilder[(Int, Int, Int)]
    i = 0
    while (i < n) {
      val wi = order(i).intValue
      outB += ((i + 1, numberRows - wordRow(wi), wi))
      i += 1
    }
    outB.result()
  }

  /** order.py:135 `group_lines_into_lines` — sort line annotations by
    * y-center; returns (order, order, id).
    */
  def groupLinesIntoLines(lines: Seq[(String, BBox)]): List[(Int, Int, String)] =
    lines
      .map { case (id, box) => (box.cy, id) }
      .sortBy(_._1)
      .zipWithIndex
      .map { case ((_, id), i) => (i + 1, i + 1, id) }
      .toList

  /** order.py:341 `_consolidate_columns`: child→parent where child
    * column is ≥`ioaThreshold` inside parent (fraction of child area
    * covered); like the reference's `dict(zip(nonzero))`, the LAST
    * matching parent per child wins. Unmatched columns are renumbered
    * 0,1,2,… in discovery order.
    */
  private def consolidateColumns(columns: IndexedSeq[MBox], ioaThreshold: Double): Map[Int, Int] = {
    val n = columns.length
    if (n == 0) return Map.empty
    val dict = mutable.LinkedHashMap.empty[Int, Int]
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
      if (!dict.contains(k)) { dict(k) = counter; counter += 1 }
      k += 1
    }
    dict.toMap
  }

  private final case class Component(
      var top: Double,
      var bottom: Double,
      var left: Double,
      cols: mutable.ArrayBuffer[(Int, MBox)]
  )

  /** order.py:164 `_connected_components`: group columns that
    * vertically overlap; within a component sort columns by rounded
    * (ulx, uly) (mutating the boxes' rounded coords, as the reference
    * does); components sorted by top. Returns flattened (origIdx, box)
    * in final column order.
    */
  private def connectedComponents(columns: IndexedSeq[MBox]): List[(Int, MBox)] = {
    val comps = mutable.ArrayBuffer.empty[Component]
    for ((col, idx) <- columns.zipWithIndex) {
      var found = false
      var c = 0
      while (c < comps.length && !found) {
        val comp = comps(c)
        if ((comp.top < col.uly && col.uly < comp.bottom) ||
            (comp.top < col.lry && col.lry < comp.bottom) ||
            (col.uly < comp.top && comp.top < col.lry) ||
            (col.uly < comp.bottom && comp.bottom < col.lry)) {
          comp.top = math.min(comp.top, col.uly)
          comp.bottom = math.max(comp.bottom, col.lry)
          comp.left = col.ulx
          comp.cols += ((idx, col))
          found = true
        }
        c += 1
      }
      if (!found)
        comps += Component(col.uly, col.lry, col.ulx, mutable.ArrayBuffer((idx, col)))
      // reference rounds ulx/uly in place and re-sorts on every
      // insertion (order.py:189-196)
      for (comp <- comps) {
        for ((_, box) <- comp.cols) {
          box.ulx = pyRound2(box.ulx)
          box.uly = pyRound2(box.uly)
        }
        val sortedCols = comp.cols.sortBy { case (_, b) => (b.ulx, b.uly) }
        comp.cols.clear(); comp.cols ++= sortedCols
      }
      val sortedComps = comps.sortBy(_.top)
      comps.clear(); comps ++= sortedComps
    }
    comps.toList.flatMap(_.cols)
  }

  /** order.py:201 `order_blocks` — the block-level reading order.
    *
    * Index-keyed: every annotation is resolved by its position, so each
    * occurrence of a duplicated id keeps its own box through the sort,
    * the column assignment and the per-column sort, as the reference's
    * annotation objects do. The reference gates block membership by id
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
    if (anns.isEmpty) return Nil
    // Index-keyed rewrite (the groupWordsIntoLinesIdx precedent) of the
    // id-keyed port [[orderBlocksById]]: the string-keyed Map lookups
    // and per-COMPARISON sort-key evaluation (sortBy re-evaluates its
    // key function each comparison — for the final per-column sort
    // that was one BigDecimal-allocating pyRound2 pair per comparison)
    // are replaced by key arrays computed once per annotation and the
    // same stable TimSort (Double.compare is the total order
    // Ordering[Double] uses). On unique ids the two coincide: algorithm,
    // tie-breaks and output are identical (OrderSpec pins the
    // equivalence on randomized inputs).
    val n = anns.length
    val relArr = new Array[BBox](n)
    var i = 0
    while (i < n) { relArr(i) = anns(i)._2.toRelative(pageWidth, pageHeight); i += 1 }
    // sortedAnns: original indices, stable-sorted by (cy, cx)
    val order = new Array[Integer](n)
    i = 0
    while (i < n) { order(i) = Integer.valueOf(i); i += 1 }
    java.util.Arrays.sort(order, new java.util.Comparator[Integer] {
      override def compare(a: Integer, b: Integer): Int = {
        val ba = relArr(a.intValue); val bb = relArr(b.intValue)
        val c = java.lang.Double.compare(ba.cy, bb.cy)
        if (c != 0) c else java.lang.Double.compare(ba.cx, bb.cx)
      }
    })

    val columns = mutable.ArrayBuffer.empty[MBox]
    // (columnIdx, annIdx)
    var readingBlocks = mutable.ListBuffer.empty[(Int, Int)]
    var oi = 0
    while (oi < n) {
      val ai = order(oi).intValue
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
          readingBlocks += ((idx, ai))
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
        readingBlocks += ((columns.length - 1, ai))
      }
      oi += 1
    }

    val consolidated = consolidateColumns(columns.toIndexedSeq, ioaColumnThreshold)
    // order.py:296-298: dedupe columns via BoundingBox.__eq__, which
    // compares the EXACT internal coords (box.py:448-459 `_key`), not
    // the 2-decimal-rounded values — rounding happens later, inside
    // `_connected_components`. Two parents that would only collide
    // after rounding stay separate here, exactly as in the reference.
    val consolidatedColumns = mutable.ArrayBuffer.empty[MBox]
    val seenKeys = mutable.LinkedHashSet.empty[(Double, Double, Double, Double)]
    for (idx <- columns.indices) {
      val target = columns(consolidated(idx))
      val exactKey = (target.ulx, target.uly, target.lrx, target.lry)
      if (!seenKeys.contains(exactKey)) {
        seenKeys += exactKey
        consolidatedColumns += target
      }
    }

    readingBlocks = readingBlocks.map { case (c, ai) => (consolidated.getOrElse(c, c), ai) }

    val columnsBox = connectedComponents(consolidatedColumns.toIndexedSeq)
    val columnsDict: Map[Int, Int] = columnsBox.zipWithIndex.map { case ((origIdx, _), k) => origIdx -> k }.toMap

    val blocks = readingBlocks.toList
      .map { case (c, ai) => (columnsDict.getOrElse(c, consolidated.getOrElse(c, c)), ai) }
      .sortBy(_._1)
    // rounded sort keys of the per-column block sort, once per ann
    val rUly = new Array[Double](n)
    val rUlx = new Array[Double](n)
    i = 0
    while (i < n) {
      rUly(i) = pyRound2(relArr(i).uly)
      rUlx(i) = pyRound2(relArr(i).ulx)
      i += 1
    }
    val maxBlockNumber = if (columnsDict.isEmpty) 0 else columnsDict.values.max
    val sortedBlocks = mutable.ListBuffer.empty[Int]
    val member = new Array[Boolean](n)
    for (idx <- 0 to maxBlockNumber) {
      val inBlock = blocks.filter(_._1 == idx)
      if (inBlock.nonEmpty) {
        java.util.Arrays.fill(member, false)
        inBlock.foreach { case (_, ai) => member(ai) = true }
        // collect members in sortedAnns order (the tie order the
        // reference preserves), then stable-sort by rounded (uly, ulx)
        val group = new java.util.ArrayList[Integer]()
        var k = 0
        while (k < n) {
          val ai = order(k)
          if (member(ai.intValue)) group.add(ai)
          k += 1
        }
        group.sort(new java.util.Comparator[Integer] {
          override def compare(a: Integer, b: Integer): Int = {
            val c = java.lang.Double.compare(rUly(a.intValue), rUly(b.intValue))
            if (c != 0) c else java.lang.Double.compare(rUlx(a.intValue), rUlx(b.intValue))
          }
        })
        var g = 0
        while (g < group.size()) { sortedBlocks += group.get(g).intValue; g += 1 }
      }
    }
    sortedBlocks.toList.zipWithIndex.map { case (ai, j) => (j + 1, anns(ai)._1) }
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
    // order.py:296-298: dedupe columns via BoundingBox.__eq__ on the
    // EXACT internal coords (see the hot path's twin comment)
    val consolidatedColumns = mutable.ArrayBuffer.empty[MBox]
    val seenKeys = mutable.LinkedHashSet.empty[(Double, Double, Double, Double)]
    for (idx <- columns.indices) {
      val target = columns(consolidated(idx))
      val exactKey = (target.ulx, target.uly, target.lrx, target.lry)
      if (!seenKeys.contains(exactKey)) {
        seenKeys += exactKey
        consolidatedColumns += target
      }
    }

    readingBlocks = readingBlocks.map { case (c, id) => (consolidated.getOrElse(c, c), id) }

    val columnsBox = connectedComponents(consolidatedColumns.toIndexedSeq)
    val columnsDict: Map[Int, Int] = columnsBox.zipWithIndex.map { case ((origIdx, _), k) => origIdx -> k }.toMap

    val blocks = readingBlocks.toList
      .map { case (c, id) => (columnsDict.getOrElse(c, consolidated.getOrElse(c, c)), id) }
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
