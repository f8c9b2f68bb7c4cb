package graft.kernels

import graft.model.BBox

/** Pure box geometry (reference: dd_core/datapoint/box.py:88-195,
  * :617-872). Per-row arrays are tiny, so scalar Scala — no
  * vectorization needed (SURVEY §4).
  */
object Geometry {

  /** box.py:88 `area` (xyxy). */
  def area(b: BBox): Double = b.area

  /** box.py:104 `intersection` — pairwise intersection area. */
  def intersectionArea(a: BBox, b: BBox): Double = {
    val w = math.min(a.lrx, b.lrx) - math.max(a.ulx, b.ulx)
    val h = math.min(a.lry, b.lry) - math.max(a.uly, b.uly)
    math.max(0.0, w) * math.max(0.0, h)
  }

  /** box.py:134 `np_iou`. */
  def iou(a: BBox, b: BBox): Double = {
    val inter = intersectionArea(a, b)
    val union = area(a) + area(b) - inter
    if (union <= 0.0) 0.0 else inter / union
  }

  /** box.py:177 `ioa` — intersection over area of `b` (asymmetric:
    * ioa(parent, child) = |parent ∩ child| / |child|).
    */
  def ioa(a: BBox, b: BBox): Double = {
    val ar = area(b)
    if (ar <= 0.0) 0.0 else intersectionArea(a, b) / ar
  }

  /** box.py:617 `intersection_box`. Returns None for empty intersection. */
  def intersectionBox(a: BBox, b: BBox): Option[BBox] = {
    val ulx = math.max(a.ulx, b.ulx)
    val uly = math.max(a.uly, b.uly)
    val lrx = math.min(a.lrx, b.lrx)
    val lry = math.min(a.lry, b.lry)
    if (lrx > ulx && lry > uly) Some(BBox(ulx, uly, lrx, lry, a.absCoords)) else None
  }

  /** box.py:757 `merge_boxes` — smallest box containing all. Single
    * pass over an iterator (this runs once per emitted text line and
    * per block in the hot kernel, so callers map lazily).
    */
  def mergeBoxes(boxes: IterableOnce[BBox]): BBox = {
    val it = boxes.iterator
    require(it.hasNext, "merge_boxes of empty sequence")
    var ulx = Double.MaxValue; var uly = Double.MaxValue
    var lrx = Double.MinValue; var lry = Double.MinValue
    var abs = false
    var first = true
    while (it.hasNext) {
      val b = it.next()
      if (first) { abs = b.absCoords; first = false }
      if (b.ulx < ulx) ulx = b.ulx
      if (b.uly < uly) uly = b.uly
      if (b.lrx > lrx) lrx = b.lrx
      if (b.lry > lry) lry = b.lry
    }
    BBox(ulx, uly, lrx, lry, abs)
  }

  /** box.py:206 `_round_half_up` — NOT banker's rounding; feeds
    * annotation-id-defining int coords in the reference.
    */
  def roundHalfUp(x: Double): Int = math.floor(x + 0.5).toInt

  /** box.py:210 `_round_half_down`. */
  def roundHalfDown(x: Double): Int = {
    val f = math.floor(x)
    if (x - f <= 0.5) f.toInt else (f + 1).toInt
  }

  /** Python round(x, 2) — banker's rounding at 2 decimals, used by the
    * ordering tie-breaks (pipe/order.py:191-193, :367-369). CPython
    * rounds the double's EXACT binary value half-to-even (so
    * round(2.675, 2) == 2.67, because 2.675 is exactly 2.67499…);
    * `new java.math.BigDecimal(x)` takes that exact value, whereas
    * `BigDecimal(x)` (via Double.toString) would see the shortest
    * decimal repr "2.675" and round it UP to 2.68.
    *
    * Fast path, bit-identical to that BigDecimal result: for
    * |x·100| < 1e9 the product `y = x*100` is off the exact one by at
    * most 1.2e-7, so unless `y` lies within 1e-6 of a .5 tie the exact
    * value rounds to the same integer k as `y`, and BigDecimal's
    * `doubleValue` of k/100 (a compact value at scale 2) is exactly
    * `k / 100.0`. A zero k is +0.0 there, as here. Near-ties, large
    * values and NaN take the BigDecimal route.
    */
  def pyRound2(x: Double): Double = {
    val y = x * 100.0
    val frac = y - math.floor(y)
    if (math.abs(y) < 1e9 && math.abs(frac - 0.5) > 1e-6) {
      val k = math.rint(y)
      if (k == 0.0) 0.0 else k / 100.0
    } else
      new java.math.BigDecimal(x)
        .setScale(2, java.math.RoundingMode.HALF_EVEN).doubleValue()
  }
}
