package graft.kernels

import scala.collection.mutable
import graft.model.BBox
import Geometry.{intersectionArea, area, iou => boxIou}

/** Parent↔child assignment by intersection — re-derivation of the
  * reference's `match_anns_by_intersection`
  * (dd_core/mapper/match.py:38-166), including the weighted-IoA
  * calibration (:154-160) and the `max_parent_only` argmax (:141-151).
  *
  * In the reference this is an O(P×C) numpy matrix *within one record*;
  * here it stays row-local: plain nested loops over the per-turn
  * arrays inside `mapPartitions` — no shuffle (SURVEY §2.3).
  */
object Match {

  /** @return (childIdx, parentIdx) pairs, in row-major (child-major)
    *         order for the matrix variants — matching numpy
    *         `nonzero()` ordering. A view of [[forEachMatch]].
    */
  def matchByIntersection(
      parents: IndexedSeq[BBox],
      children: IndexedSeq[BBox],
      rule: String, // "iou" | "ioa"
      threshold: Double,
      useWeightedIntersections: Boolean = false,
      maxParentOnly: Boolean = false
  ): Seq[(Int, Int)] = {
    val out = mutable.ListBuffer.empty[(Int, Int)]
    forEachMatch(parents, children, rule, threshold, useWeightedIntersections, maxParentOnly)(
      (c, p) => out += ((c, p)))
    out.toList
  }

  /** The matching core: calls `f(childIdx, parentIdx)` for each pair of
    * [[matchByIntersection]], in the same order, without building them.
    */
  def forEachMatch(
      parents: IndexedSeq[BBox],
      children: IndexedSeq[BBox],
      rule: String,
      threshold: Double,
      useWeightedIntersections: Boolean,
      maxParentOnly: Boolean
  )(f: (Int, Int) => Unit): Unit = {
    require(rule == "iou" || rule == "ioa", "matching rule must be either iou or ioa")
    if (parents.isEmpty || children.isEmpty) return
    val nC = children.length
    val nP = parents.length

    if (rule == "iou") {
      var c = 0
      while (c < nC) {
        var p = 0
        while (p < nP) {
          if (boxIou(children(c), parents(p)) > threshold) f(c, p)
          p += 1
        }
        c += 1
      }
    } else if (rule == "ioa" && maxParentOnly && !useWeightedIntersections) {
      // match.py:141-151 fused: the per-child argmax needs one row of
      // the IoA matrix at a time, so the full nC×nP matrix (one array
      // allocation per child per call, on the per-word hot path) is
      // never materialized — same arithmetic, same first-max-wins
      // order, same output pairs.
      var c = 0
      while (c < nC) {
        val childArea = area(children(c))
        var best = -1
        var bestV = 0.0
        var p = 0
        while (p < nP) {
          val raw = if (childArea <= 0.0) 0.0
                    else intersectionArea(parents(p), children(c)) / childArea
          val v = if (raw < threshold) 0.0 else raw
          if (v > bestV) { bestV = v; best = p }
          p += 1
        }
        if (best >= 0) f(c, best)
        c += 1
      }
    } else {
      // ioa matrix transposed: m(c)(p) = |parent_p ∩ child_c| / |child_c|
      val m = Array.ofDim[Double](nC, nP)
      var c = 0
      while (c < nC) {
        val childArea = area(children(c))
        var p = 0
        while (p < nP) {
          m(c)(p) = if (childArea <= 0.0) 0.0 else intersectionArea(parents(p), children(c)) / childArea
          p += 1
        }
        c += 1
      }
      if (maxParentOnly) {
        // match.py:141-151: zero out below-threshold, argmax per child
        // (first max wins, as numpy argmax), skip children with no match
        c = 0
        while (c < nC) {
          var best = -1
          var bestV = 0.0
          var p = 0
          while (p < nP) {
            val v = if (m(c)(p) < threshold) 0.0 else m(c)(p)
            if (v > bestV) { bestV = v; best = p }
            p += 1
          }
          if (best >= 0) f(c, best)
          c += 1
        }
      } else {
        val weighted =
          if (!useWeightedIntersections) m
          else {
            // match.py:154-160: multiply each row by its non-zero count
            m.map { row =>
              val k = row.count(_ != 0.0).toDouble
              row.map(_ * k)
            }
          }
        c = 0
        while (c < nC) {
          var p = 0
          while (p < nP) {
            if (weighted(c)(p) > threshold) f(c, p)
            p += 1
          }
          c += 1
        }
      }
    }
  }

  /** match.py:170 `match_anns_by_distance` — nearest parent by center
    * Euclidean distance (cdist argmin, :209-213).
    */
  def matchByDistance(parents: IndexedSeq[BBox], children: IndexedSeq[BBox]): Seq[(Int, Int)] =
    matchByDistance(parents, children, (_, _) => false)

  /** [[matchByDistance]] with an exclusion predicate over (childIdx,
    * parentIdx) — the layout-link service uses it to skip a block
    * matching ITSELF when a kind is in both the parent and child sets
    * (distance 0). Children whose every parent is excluded emit no
    * pair.
    */
  def matchByDistance(parents: IndexedSeq[BBox], children: IndexedSeq[BBox],
      exclude: (Int, Int) => Boolean): Seq[(Int, Int)] = {
    if (parents.isEmpty || children.isEmpty) return Nil
    children.indices.flatMap { c =>
      val ch = children(c)
      var best = -1
      var bestD = Double.MaxValue
      var p = 0
      while (p < parents.length) {
        if (!exclude(c, p)) {
          val dx = parents(p).cx - ch.cx
          val dy = parents(p).cy - ch.cy
          val d = dx * dx + dy * dy
          if (d < bestD) { bestD = d; best = p }
        }
        p += 1
      }
      if (best >= 0) Some((c, best)) else None
    }
  }
}

/** `FamilyCompound` configuration (pipe/common.py:230-269): which
  * parent/child categories a MatchingService pass relates, and whether
  * orphan children get a synthetic parent.
  */
final case class FamilyCompound(
    relationshipKey: String = "child",
    /** empty = all kinds, like the reference's None */
    parentKinds: Set[String] = Set.empty,
    childKinds: Set[String] = Set.empty,
    createSyntheticParent: Boolean = false,
    /** category of the synthetic parent (reference `synthetic_parent`) */
    syntheticParent: String = graft.model.LayoutLabel.LINE)

object FamilyMatch {

  /** One synthetic parent PER orphan child, carrying the child's own
    * box (pipe/common.py:314-339: a DetectionResult with
    * `class_name=synthetic_parent, box=child.box`, related back to
    * the child).
    */
  final case class SyntheticParent(kind: String, box: graft.model.BBox, childIdx: Int)

  /** MatchingService.serve for one family (pipe/common.py:294-339):
    * match the configured parent/child kinds by intersection, then —
    * if configured — synthesize a parent for every child the match
    * left orphaned. Indices in the result refer to the ORIGINAL
    * (unfiltered) input sequences.
    */
  def matchFamily(
      parents: IndexedSeq[(String, graft.model.BBox)],
      children: IndexedSeq[(String, graft.model.BBox)],
      fc: FamilyCompound,
      rule: String = "ioa",
      threshold: Double = 0.3,
      maxParentOnly: Boolean = true
  ): (Seq[(Int, Int)], Seq[SyntheticParent]) = {
    val pIdx = parents.indices.filter(i =>
      fc.parentKinds.isEmpty || fc.parentKinds.contains(parents(i)._1))
    val cIdx = children.indices.filter(i =>
      fc.childKinds.isEmpty || fc.childKinds.contains(children(i)._1))
    val pairs = Match.matchByIntersection(
        pIdx.map(parents(_)._2), cIdx.map(children(_)._2),
        rule, threshold, maxParentOnly = maxParentOnly)
      .map { case (c, p) => (cIdx(c), pIdx(p)) }
    val matchedChildren = pairs.map(_._1).toSet
    val synthetic =
      if (fc.createSyntheticParent)
        cIdx.filterNot(matchedChildren)
          .map(ci => SyntheticParent(fc.syntheticParent, children(ci)._2, ci))
      else Nil
    (pairs, synthetic)
  }
}
