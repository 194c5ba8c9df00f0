package perfbench

/** Ground truth by brute force, computed with plain arrays and no
  * library code: exact cosine of each query against every corpus row.
  */
final class Corpus(val ids: Array[Long], rows: Array[Array[Float]]) {
  val n: Int = ids.length
  val dims: Int = if (n == 0) 0 else rows(0).length
  private val flat: Array[Double] = {
    val a = new Array[Double](n * dims)
    var i = 0
    while (i < n) {
      var d = 0
      while (d < dims) { a(i * dims + d) = rows(i)(d).toDouble; d += 1 }
      i += 1
    }
    a
  }
  private val norms: Array[Double] = Array.tabulate(n) { i =>
    var s = 0.0
    var d = 0
    while (d < dims) { val x = flat(i * dims + d); s += x * x; d += 1 }
    math.sqrt(s)
  }

  def cosine(i: Int, q: Array[Double], qn: Double): Double = {
    var s = 0.0
    var d = 0
    val o = i * dims
    while (d < dims) { s += flat(o + d) * q(d); d += 1 }
    if (qn == 0.0 || norms(i) == 0.0) 0.0 else s / (norms(i) * qn)
  }

  private lazy val index: Map[Long, Int] = ids.zipWithIndex.toMap

  def contains(id: Long): Boolean = index.contains(id)

  /** Exact cosine of a query against the row with this id. */
  def score(q: Array[Double], id: Long): Double =
    cosine(index(id), q, math.sqrt(q.map(x => x * x).sum))

  /** The `k` best rows for one query, as (id, score) sorted by
    * score descending then id ascending, over rows where `keep` holds.
    */
  def topK(q: Array[Double], k: Int, keep: Long => Boolean = _ => true)
      : Array[(Long, Double)] = {
    val qn = math.sqrt(q.map(x => x * x).sum)
    val bestId = Array.fill(k)(Long.MaxValue)
    val bestS = Array.fill(k)(Double.NegativeInfinity)
    var i = 0
    while (i < n) {
      if (keep(ids(i))) {
        val s = cosine(i, q, qn)
        val id = ids(i)
        if (s > bestS(k - 1) || (s == bestS(k - 1) && id < bestId(k - 1))) {
          var j = k - 1
          while (j > 0 && (s > bestS(j - 1) || (s == bestS(j - 1) && id < bestId(j - 1)))) {
            bestS(j) = bestS(j - 1); bestId(j) = bestId(j - 1); j -= 1
          }
          bestS(j) = s; bestId(j) = id
        }
      }
      i += 1
    }
    bestId.zip(bestS).filter(_._1 != Long.MaxValue)
  }

  /** [[topK]] for many queries on all cores. */
  def topKAll(qs: Array[Array[Double]], k: Int, keep: Long => Boolean = _ => true)
      : Array[Array[(Long, Double)]] = {
    val out = new Array[Array[(Long, Double)]](qs.length)
    java.util.stream.IntStream.range(0, qs.length).parallel()
      .forEach(i => out(i) = topK(qs(i), k, keep))
    out
  }
}

object Checks {
  /** Mean share of the exact top-k ids that a result row set holds. */
  def recall(got: Seq[Long], exact: Array[(Long, Double)]): Double =
    if (exact.isEmpty) 1.0
    else exact.count(e => got.contains(e._1)).toDouble / exact.length

  /** k distinct ids with non-increasing scores. */
  def wellFormed(rows: Seq[(Long, Double)], k: Int): Boolean =
    rows.length == k && rows.map(_._1).distinct.length == k &&
      rows.sliding(2).forall(p => p.length < 2 || p(0)._2 >= p(1)._2)

  /** Equal to the exact top-k up to ties: every returned id scores
    * within `tol` of the exact k-th score, returned scores match the
    * exact cosine to `tol`, and every id above the cut is returned.
    */
  def equalsExact(rows: Seq[(Long, Double)], exactScore: Long => Double,
      exact: Array[(Long, Double)], tol: Double): Boolean = {
    val kth = exact.last._2
    val got = rows.map(_._1).toSet
    rows.forall { case (id, s) =>
      val e = exactScore(id)
      math.abs(e - s) <= tol && e >= kth - tol
    } && exact.forall { case (id, s) => s <= kth + tol || got.contains(id) }
  }
}
