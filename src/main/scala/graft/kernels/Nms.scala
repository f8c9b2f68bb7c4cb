package graft.kernels

import graft.model.BBox
import Geometry.iou

/** Greedy non-maximum suppression over candidate blocks — semantics of
  * the reference's `pt_nms_image_annotations`
  * (dd_core/mapper/nms.py:64; torchvision greedy NMS underneath):
  * sort by score descending, drop any candidate whose IoU with an
  * already-kept candidate exceeds the threshold. Priority category
  * members get score 1.0 and are never suppressed. Row-local.
  */
object Nms {

  final case class Candidate(id: String, box: BBox, score: Double, category: String)

  /** @return ids of surviving candidates. */
  def suppress(anns: Seq[Candidate], threshold: Double, prio: String = ""): Seq[String] = {
    if (anns.length == 1) return Seq(anns.head.id)
    if (anns.isEmpty) return Nil

    val priorityIds = if (prio.nonEmpty) anns.filter(_.category == prio).map(_.id) else Nil
    if (priorityIds.length == anns.length) return priorityIds

    def confidence(c: Candidate): Double = if (prio.nonEmpty && c.category == prio) 1.0 else c.score

    val kept = survivors(anns.map(_.box).toIndexedSeq, anns.map(confidence).toArray, threshold)
      .map(anns(_).id)
    val keptIds = kept.toSet
    // preserve priority anns even if greedy would drop them
    val extra = priorityIds.filterNot(keptIds.contains)
    kept.toList ++ extra
  }

  /** The greedy core: indices of the candidates that survive, in
    * visiting order — stable by score descending (torchvision sorts
    * descending; ties keep input order).
    */
  def survivors(boxes: IndexedSeq[BBox], scores: Array[Double], threshold: Double): Array[Int] = {
    val n = boxes.length
    val negScore = new Array[Double](n)
    var i = 0
    while (i < n) { negScore(i) = -scores(i); i += 1 }
    val visit = IdxSort.identity(n)
    IdxSort.sort(visit, 0, n, negScore, null)
    val kept = new Array[Int](n)
    var nKept = 0
    i = 0
    while (i < n) {
      val cand = boxes(visit(i))
      var suppressed = false
      var k = 0
      while (k < nKept && !suppressed) {
        if (iou(boxes(kept(k)), cand) > threshold) suppressed = true
        k += 1
      }
      if (!suppressed) { kept(nKept) = visit(i); nKept += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(kept, nKept)
  }
}
