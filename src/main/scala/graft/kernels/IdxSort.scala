package graft.kernels

/** Stable sort of an `Int` index array by primitive `Double` keys — the
  * kernels' replacement for `sortBy` over boxed keys, which evaluates
  * its key function (allocating a boxed tuple or `Double`) at every
  * comparison. Element `e` compares by `(k1(e), k2(e))` with
  * `java.lang.Double.compare`, the total order `Ordering.Double` uses;
  * ties keep their input order, as in `sortBy`'s TimSort, so results
  * are identical.
  */
private[graft] object IdxSort {

  private def cmp(a: Int, b: Int, k1: Array[Double], k2: Array[Double]): Int = {
    val c = java.lang.Double.compare(k1(a), k1(b))
    if (c != 0 || k2 == null) c else java.lang.Double.compare(k2(a), k2(b))
  }

  /** Sort `idx(from until to)` in place; `k2` may be null. */
  def sort(idx: Array[Int], from: Int, to: Int, k1: Array[Double], k2: Array[Double]): Unit =
    if (to - from <= 32) insertion(idx, from, to, k1, k2)
    else mergeSort(idx, new Array[Int](to - from), from, to, k1, k2)

  private def insertion(idx: Array[Int], from: Int, to: Int,
      k1: Array[Double], k2: Array[Double]): Unit = {
    var i = from + 1
    while (i < to) {
      val x = idx(i)
      var j = i - 1
      while (j >= from && cmp(idx(j), x, k1, k2) > 0) { idx(j + 1) = idx(j); j -= 1 }
      idx(j + 1) = x
      i += 1
    }
  }

  /** Top-down merge sort; `tmp(0 until to - from)` is scratch. */
  private def mergeSort(idx: Array[Int], tmp: Array[Int], from: Int, to: Int,
      k1: Array[Double], k2: Array[Double]): Unit =
    if (to - from <= 32) insertion(idx, from, to, k1, k2)
    else {
      val mid = (from + to) >>> 1
      mergeSort(idx, tmp, from, mid, k1, k2)
      mergeSort(idx, tmp, mid, to, k1, k2)
      if (cmp(idx(mid - 1), idx(mid), k1, k2) > 0) {
        System.arraycopy(idx, from, tmp, 0, mid - from)
        var i = 0
        val iEnd = mid - from
        var j = mid
        var o = from
        while (i < iEnd && j < to) {
          // take from the left run on ties: stability
          if (cmp(tmp(i), idx(j), k1, k2) <= 0) { idx(o) = tmp(i); i += 1 }
          else { idx(o) = idx(j); j += 1 }
          o += 1
        }
        while (i < iEnd) { idx(o) = tmp(i); i += 1; o += 1 }
      }
    }

  /** `0 until n` as an array. */
  def identity(n: Int): Array[Int] = {
    val a = new Array[Int](n)
    var i = 0
    while (i < n) { a(i) = i; i += 1 }
    a
  }
}
