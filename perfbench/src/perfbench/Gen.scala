package perfbench

import org.apache.spark.sql.catalyst.expressions.XXH64

/** Seeded input generator. Every value is a pure function of
  * (seed, id, position) through xxhash64, so the same seed yields the
  * same inputs on any machine and in any order of generation.
  *
  * Vectors are a 256-centre mixture: row = 1.2·centre + unit-norm
  * Gaussian noise, L2-normalised. Two distinct rows of one centre stay
  * well below cosine 0.95, so only planted near-copies reach a 0.95
  * duplicate threshold. Documents are runs of tokens drawn from a
  * large vocabulary, so two distinct documents share no word 3-gram.
  */
final class Gen(seed: Long, val dims: Int, nCentres: Int = 256) {
  import Gen._

  private def bits(id: Long, pos: Long): Long =
    XXH64.hashLong(pos, XXH64.hashLong(id, seed))

  /** Uniform in (0, 1). */
  def unif(id: Long, pos: Long): Double =
    ((bits(id, pos) >>> 11).toDouble + 0.5) / (1L << 53).toDouble

  def gauss(id: Long, pos: Long): Double = {
    val u1 = unif(id, 2 * pos)
    val u2 = unif(id, 2 * pos + 1)
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
  }

  /** Non-negative pick in [0, n). */
  def pick(id: Long, pos: Long, n: Long): Long =
    java.lang.Long.remainderUnsigned(bits(id, pos), n)

  private val centres: Array[Array[Double]] =
    Array.tabulate(nCentres)(c =>
      normalise(Array.tabulate(dims)(d => gauss(CentreBase - c, d))))

  /** Unit vector of row `id` (float precision, as stored). */
  def vec(id: Long): Array[Float] = {
    val c = centres(pick(id, CentrePos, nCentres).toInt)
    val s = 1.0 / math.sqrt(dims.toDouble)
    val v = Array.tabulate(dims)(d => 1.2 * c(d) + s * gauss(id, NoisePos + d))
    toFloat(normalise(v))
  }

  /** A planted near-copy of `donor`: donor + 0.02 per-dim noise. */
  def nearCopy(donor: Array[Float], id: Long): Array[Float] = {
    val v = Array.tabulate(dims)(d => donor(d) + 0.02 * gauss(id, CopyPos + d))
    toFloat(normalise(v))
  }

  def doc(id: Long, tokens: Int): String =
    (0 until tokens).map(t => token(id, t)).mkString(" ")

  /** A planted text copy: exact, or with one token replaced. */
  def textCopy(donor: String, id: Long): String =
    if (unif(id, EditPos) < 0.5) donor
    else {
      val toks = donor.split(' ')
      val at = pick(id, EditPos + 1, toks.length.toLong).toInt
      toks(at) = "e" + java.lang.Long.toString(bits(id, EditPos + 2) >>> 1, 36)
      toks.mkString(" ")
    }

  private def token(id: Long, t: Int): String =
    "w" + java.lang.Long.toString(pick(id, TokenPos + t, Vocab), 36)
}

object Gen {
  private val CentreBase = -1000000L
  private val CentrePos = -1L
  private val NoisePos = 1000L
  private val CopyPos = 5000L
  private val EditPos = 9000L
  private val TokenPos = 20000L
  private val Vocab = 50000000L

  def normalise(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    if (n == 0.0) v else v.map(_ / n)
  }

  def toFloat(v: Array[Double]): Array[Float] = v.map(_.toFloat)

  def toDouble(v: Array[Float]): Array[Double] = v.map(_.toDouble)
}
