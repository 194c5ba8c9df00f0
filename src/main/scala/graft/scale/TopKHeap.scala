package graft.scale

/** Bounded top-k accumulator: the k best (score, tie) pairs under the
  * total order (score desc|asc, then tie asc). A binary heap keyed
  * "worst kept at the root" admits or rejects a new pair in O(log k),
  * so a partition's pass is O(n log k) with NO sort and no buffering
  * beyond k pairs — the map-side combine state of
  * [[Skew.heapTopKPerKey]] and a task result of
  * [[BlockScore.blendTopK]], whose heaps [[merge]] exactly: the k best
  * of two heaps' pairs are the k best of all the pairs they saw.
  */
final class TopKHeap(val k: Int, val desc: Boolean) extends Serializable {
  var n: Int = 0
  val scores: Array[Double] = new Array[Double](math.max(1, k))
  val ties: Array[Long] = new Array[Long](math.max(1, k))

  /** Spark SQL's double comparison (SQLOrderingUtil semantics): the
    * `==` fast path makes -0.0 equal 0.0; Double.compare puts NaN
    * above every other value — so a window's (score desc|asc, tie
    * asc) ranking and this heap keep the SAME rows even on corpora
    * that produce NaN scores (a plain `<`/`>` comparator would treat
    * NaN as never-worse and let one NaN row permanently displace a
    * real candidate per partition).
    */
  @inline private def cmpScore(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)

  /** Strict "a is worse than b" under (score desc|asc, tie asc). */
  @inline def worse(sa: Double, ta: Long, sb: Double, tb: Long): Boolean = {
    val c = cmpScore(sa, sb)
    if (c != 0) { if (desc) c < 0 else c > 0 } else ta > tb
  }

  private def swap(i: Int, j: Int): Unit = {
    val s = scores(i); val t = ties(i)
    scores(i) = scores(j); ties(i) = ties(j)
    scores(j) = s; ties(j) = t
  }

  private def siftDown(i0: Int): Unit = {
    var i = i0
    var done = false
    while (!done) {
      val l = 2 * i + 1
      val r = l + 1
      var w = i // index of the WORST among i and its children
      if (l < n && worse(scores(l), ties(l), scores(w), ties(w))) w = l
      if (r < n && worse(scores(r), ties(r), scores(w), ties(w))) w = r
      if (w == i) done = true
      else { swap(i, w); i = w }
    }
  }

  private def siftUp(i0: Int): Unit = {
    var i = i0
    var done = false
    while (!done && i > 0) {
      val p = (i - 1) / 2
      if (worse(scores(i), ties(i), scores(p), ties(p))) { swap(i, p); i = p }
      else done = true
    }
  }

  def add(s: Double, t: Long): Unit =
    if (k > 0) {
      if (n < k) {
        scores(n) = s; ties(n) = t; n += 1
        siftUp(n - 1)
      } else if (worse(scores(0), ties(0), s, t)) {
        scores(0) = s; ties(0) = t
        siftDown(0)
      }
    }

  /** Adds every pair `o` holds. */
  def merge(o: TopKHeap): this.type = {
    var i = 0
    while (i < o.n) { add(o.scores(i), o.ties(i)); i += 1 }
    this
  }

  /** Empties the heap, leaving its pairs in `scores`/`ties` best first
    * (an in-place heapsort under the heap's own order), and returns how
    * many there are. */
  def drain(): Int = {
    val m = n
    while (n > 1) { n -= 1; swap(0, n); siftDown(0) }
    n = 0
    m
  }
}
