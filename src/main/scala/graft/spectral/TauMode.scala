package graft.spectral

import org.apache.spark.sql.DataFrame

/** Policy for selecting the τ constant used both as the bounding scale
  * in E′ = E/(E+τ) and the mixing weight in S = τE′+(1−τ)G
  * (reference: TAUMODE.md:8-19; observed `synthesis=Median` in crate
  * debug logs — SURVEY.md §2.2 S10).
  */
sealed trait TauMode {
  /** Resolve τ from the distribution of raw Rayleigh energies. */
  def resolve(eRaw: DataFrame, col: String): Double

  /** [[resolve]] over energies held on the driver, one array per
    * partition in partition-index order; the same bits as [[resolve]]
    * over a frame with those partitions. */
  def resolveLocal(parts: Seq[Array[Double]]): Double
}

object TauMode {
  /** Exact median of the raw energies — the element at rank ceil(n/2),
    * the same one approxQuantile with relativeError=0 returns, WITHOUT
    * its O(N) quantile summaries (epsilon=0 forbids compressing
    * samples, so the eps-0 path materializes every value on the
    * driver — an OOM at the corpus sizes the sampling path exists
    * for). Small inputs (≤ 1M values, ≤ 8 MB) take one collect+sort;
    * at scale a distributed order-statistic selection (sort shuffle +
    * rank filter) sends one double to the driver.
    */
  case object Median extends TauMode {
    def resolve(eRaw: DataFrame, col: String): Double = {
      import org.apache.spark.sql.{functions => F}
      val spark = eRaw.sparkSession
      import spark.implicits._
      val vals = eRaw.select(F.col(col).cast("double")).as[Double].rdd
      val n = vals.count()
      // driver-small: one collect (≤ 8 MB of doubles) beats the 4-job
      // distributed selection — same element either way
      if (n <= 1000000L) resolveLocal(Seq(vals.collect()))
      else {
        val target = rank(n)
        val kth = vals
          .sortBy(identity)
          .zipWithIndex()
          .filter { case (_, i) => i == target }
          .map(_._1)
          .first()
        positive(kth)
      }
    }

    def resolveLocal(parts: Seq[Array[Double]]): Double = {
      val sorted = parts.flatten.toArray.sorted
      positive(if (sorted.isEmpty) 0.0 else sorted(rank(sorted.length).toInt))
    }

    // approxQuantile(q, eps=0) selects the smallest sample whose rank
    // >= ceil(q*n); both paths take that 0-based rank (asserted equal
    // in TauModeSpec on odd/even inputs)
    private def rank(n: Long): Long = math.ceil(0.5 * n).toLong - 1L
  }

  /** Mean of the raw energies: each partition sums its own values in
    * row order and the partial sums add in partition-index order
    * ([[graft.core.DriverLocal.sumPartials]], or
    * [[graft.core.DriverLocal.sumHeld]] on the driver), so the bits do not
    * depend on the order tasks finish in. */
  case object Mean extends TauMode {
    def resolve(eRaw: DataFrame, col: String): Double = {
      import org.apache.spark.sql.{functions => F}
      val spark = eRaw.sparkSession
      import spark.implicits._
      val vals = eRaw.select(F.col(col).cast("double")).as[Double].rdd
      mean(graft.core.DriverLocal.sumPartials(vals, 2)(partial))
    }

    def resolveLocal(parts: Seq[Array[Double]]): Double =
      mean(graft.core.DriverLocal.sumHeld(parts.map(p => partial(p.iterator)), 2))

    private def partial(it: Iterator[Double]): Array[Double] = {
      val a = new Array[Double](2)
      it.foreach { e => a(0) += e; a(1) += 1.0 }
      a
    }

    // an empty input averages to null in SQL, which falls back here too
    private def mean(a: Array[Double]): Double = positive(if (a(1) == 0.0) 0.0 else a(0) / a(1))
  }

  final case class Fixed(tau: Double) extends TauMode {
    def resolve(eRaw: DataFrame, col: String): Double = positive(tau)
    def resolveLocal(parts: Seq[Array[Double]]): Double = positive(tau)
  }

  /** τ must stay strictly positive for E/(E+τ) to be defined. */
  private def positive(t: Double): Double = if (t > 0.0) t else 1e-10
}
