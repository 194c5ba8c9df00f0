package graft

import graft.functions.VectorKernels
import org.scalatest.funsuite.AnyFunSuite

/** Property tests for the scalar kernels (pure JVM, seeded exhaustive
  * sampling): the algebraic laws the reference leaves implicit
  * (SURVEY.md §5 "add property tests the reference lacks").
  */
class KernelPropertiesSpec extends AnyFunSuite {

  private val rng = new scala.util.Random(1234)

  private def randVec(maxDim: Int = 64): Array[Double] =
    Array.fill(1 + rng.nextInt(maxDim))(rng.nextDouble() * 200.0 - 100.0)

  private def pairSameDim(): (Array[Double], Array[Double]) = {
    val a = randVec()
    val b = Array.fill(a.length)(rng.nextDouble() * 200.0 - 100.0)
    (a, b)
  }

  test("cosine is symmetric and bounded in [-1, 1]") {
    (1 to 500).foreach { _ =>
      val (a, b) = pairSameDim()
      val c1 = VectorKernels.cosine(a, b)
      val c2 = VectorKernels.cosine(b, a)
      assert(math.abs(c1 - c2) < 1e-12)
      assert(c1 >= -1.0 - 1e-9 && c1 <= 1.0 + 1e-9)
    }
  }

  test("cosine is scale-invariant for positive scales") {
    (1 to 500).foreach { _ =>
      val a = randVec()
      if (a.exists(_ != 0.0)) {
        val s = 0.001 + rng.nextDouble() * 1000.0
        assert(math.abs(VectorKernels.cosine(a, a.map(_ * s)) - 1.0) < 1e-9)
      }
    }
  }

  test("l2normalize is idempotent and unit-norm (except zero vector)") {
    (1 to 500).foreach { _ =>
      val a = randVec()
      val n1 = VectorKernels.l2normalize(a)
      if (a.exists(_ != 0.0)) {
        assert(math.abs(math.sqrt(VectorKernels.normSq(n1)) - 1.0) < 1e-9)
        val n2 = VectorKernels.l2normalize(n1)
        assert(n1.zip(n2).forall { case (x, y) => math.abs(x - y) < 1e-9 })
      } else {
        assert(n1.toSeq == a.toSeq)
      }
    }
    val zero = new Array[Double](8)
    assert(VectorKernels.l2normalize(zero).toSeq == zero.toSeq)
  }

  test("rectified cosine distance is in [0, 1] and 0 for self") {
    (1 to 500).foreach { _ =>
      val (a, b) = pairSameDim()
      if (a.exists(_ != 0.0))
        assert(VectorKernels.cosineDistance(a, a) < 1e-9)
      val d = VectorKernels.cosineDistance(a, b)
      assert(d >= -1e-9 && d <= 1.0 + 1e-9)
    }
  }

  test("weight kernel w = 1/(1+(d/sigma)^p) is monotone decreasing in d") {
    val sigma = 0.5; val p = 2.0
    def w(d: Double) = 1.0 / (1.0 + math.pow(d / sigma, p))
    (1 to 500).foreach { _ =>
      val d1 = rng.nextDouble(); val d2 = rng.nextDouble()
      val (lo, hi) = (math.min(d1, d2), math.max(d1, d2))
      assert(w(lo) >= w(hi))
    }
  }

  test("Laplacian Dirichlet energy is non-negative and zero for constant vectors") {
    import graft.spectral.{LapEdge, LocalLaplacian}
    (1 to 200).foreach { _ =>
      val dim = 2 + rng.nextInt(15)
      val edges = (0 until dim - 1).map(i => LapEdge(i, i + 1, 1.0)).toArray
      val lap = LocalLaplacian(dim, edges)
      val c = rng.nextDouble() * 100.0 - 50.0
      assert(math.abs(lap.dirichlet(Array.fill(dim)(c))) < 1e-9)
      val x = Array.fill(dim)(rng.nextDouble() * 20.0 - 10.0)
      assert(lap.dirichlet(x) >= -1e-12)
      // Gini is a concentration in [0, 1]
      val g = lap.dirichletGini(x)
      assert(g >= 0.0 && g <= 1.0)
    }
  }

  test("simhash hamming distance is 0 for identical docs, bounded by 64") {
    // driven through the DataFrame op in DedupSpec-style tests; here
    // just the pure kernel bound via xor/bit_count semantics
    val h1 = 0x0123456789ABCDEFL
    assert(java.lang.Long.bitCount(h1 ^ h1) == 0)
    assert(java.lang.Long.bitCount(h1 ^ ~h1) == 64)
  }

  test("sq8 codec: codes bounded, reconstruction error <= half a step, range endpoints exact") {
    import graft.functions.Sq8Kernels
    (1 to 300).foreach { _ =>
      val d = 1 + rng.nextInt(64)
      val xs = Array.fill(d)(rng.nextDouble() * 200.0 - 100.0)
      val mins = xs.clone(); val maxs = xs.clone()
      // widen stats beyond the data (the dimStats contract: mins/maxs
      // bound the corpus, any one vector sits inside)
      (0 until d).foreach { j =>
        mins(j) -= rng.nextDouble() * 10.0
        maxs(j) += rng.nextDouble() * 10.0
      }
      val codes = Sq8Kernels.encode(xs, mins, maxs)
      (0 until d).foreach { j =>
        val c = codes(j) & 0xFF
        assert(c >= 0 && c <= 255)
        val s = maxs(j) - mins(j)
        val deq = if (s == 0.0) mins(j) else mins(j) + c * s / 255.0
        // quantization error is at most half a step (s/510) plus fp slack
        assert(math.abs(deq - xs(j)) <= s / 510.0 + 1e-9,
          s"dim $j: x=${xs(j)} deq=$deq step=${s / 255.0}")
      }
      // endpoints land exactly on code 0 / 255; a constant dim is code 0
      val lo = Sq8Kernels.encode(mins, mins, maxs)
      val hi = Sq8Kernels.encode(maxs, mins, maxs)
      assert(lo.forall(b => (b & 0xFF) == 0))
      assert(hi.forall { b => (b & 0xFF) == 255 } ||
        (0 until d).exists(j => maxs(j) == mins(j)))
    }
  }

  test("sq8 asymmetric cosine equals cosine of the dequantized vector") {
    import graft.functions.Sq8Kernels
    (1 to 300).foreach { _ =>
      val d = 1 + rng.nextInt(48)
      val xs = Array.fill(d)(rng.nextDouble() * 2.0 - 1.0)
      val q = Array.fill(d)(rng.nextDouble() * 2.0 - 1.0)
      val mins = Array.fill(d)(-1.5); val maxs = Array.fill(d)(1.5)
      val codes = Sq8Kernels.encode(xs, mins, maxs)
      val deq = (0 until d).map { j =>
        val s = maxs(j) - mins(j)
        if (s == 0.0) mins(j) else mins(j) + (codes(j) & 0xFF) * s / 255.0
      }.toArray
      val fused = Sq8Kernels.cosineDeq(codes, q, mins, maxs)
      val reference = VectorKernels.cosine(deq, q)
      assert(math.abs(fused - reference) < 1e-12,
        s"fused=$fused two-step=$reference")
    }
  }

  test("pq codec: codes bounded by ksub, argmin optimal, ADC equals recon cosine") {
    import graft.functions.PqKernels
    (1 to 200).foreach { _ =>
      val m = 1 + rng.nextInt(4)
      val ksub = 2 + rng.nextInt(15)
      val dsub = 1 + rng.nextInt(6)
      val books = Array.fill(m, ksub, dsub)(rng.nextDouble() * 4 - 2)
      val flat = books.flatten.flatten
      val x = Array.fill(m * dsub)(rng.nextDouble() * 4 - 2)
      val codes = PqKernels.encode(x, flat, m, ksub)
      assert(codes.length == m)
      for (s <- 0 until m) {
        val j = codes(s) & 0xFF
        assert(j < ksub, s"code $j out of range ksub=$ksub")
        // argmin optimality: no codebook entry is strictly closer
        def d2(c: Array[Double]): Double =
          (0 until dsub).map(f => { val t = x(s * dsub + f) - c(f); t * t }).sum
        val chosen = d2(books(s)(j))
        (0 until ksub).foreach(o =>
          assert(chosen <= d2(books(s)(o)) + 1e-12,
            s"entry $o beats chosen $j in subspace $s"))
      }
      // ADC via lookup tables == cosine(query, reconstruction)
      val q = Array.fill(m * dsub)(rng.nextDouble() * 4 - 2)
      val lutDot = new Array[Double](m * ksub)
      val lutN2 = new Array[Double](m * ksub)
      for (s <- 0 until m; j <- 0 until ksub) {
        lutDot(s * ksub + j) =
          (0 until dsub).map(f => q(s * dsub + f) * books(s)(j)(f)).sum
        lutN2(s * ksub + j) = books(s)(j).map(v => v * v).sum
      }
      val qn = math.sqrt(q.map(v => v * v).sum)
      val adc = PqKernels.adcCosine(codes, lutDot, lutN2, qn)
      val recon = Array.tabulate(m * dsub)(i =>
        books(i / dsub)(codes(i / dsub) & 0xFF)(i % dsub))
      val want = VectorKernels.cosine(q, recon)
      assert(math.abs(adc - want) < 1e-9, s"adc=$adc recon-cos=$want")
      assert(adc >= -1.0 - 1e-9 && adc <= 1.0 + 1e-9)
      // encode is deterministic (pure function of inputs)
      assert(PqKernels.encode(x, flat, m, ksub).toSeq == codes.toSeq)
    }
  }

  test("TopKHeap keeps exactly the sort's top-k under Spark's double order") {
    // Spark's double total order: == fast path (-0.0 == 0.0), then
    // Double.compare (NaN above everything). The heap's kept SET must
    // equal take(k) of a full sort under that order — including NaN,
    // ±0.0 and duplicate scores with tie ids.
    def sparkLt(desc: Boolean)(a: (Double, Long), b: (Double, Long)): Boolean = {
      val c = if (a._1 == b._1) 0 else java.lang.Double.compare(a._1, b._1)
      if (c != 0) { if (desc) c > 0 else c < 0 } else a._2 < b._2
    }
    val specials = Array(Double.NaN, 0.0, -0.0,
      Double.PositiveInfinity, Double.NegativeInfinity)
    (1 to 300).foreach { trial =>
      val n = 1 + rng.nextInt(200)
      val k = 1 + rng.nextInt(20)
      val desc = rng.nextBoolean()
      val pairs = Array.tabulate(n) { i =>
        val s =
          if (rng.nextInt(10) == 0) specials(rng.nextInt(specials.length))
          else math.round(rng.nextDouble() * 20) / 20.0 // force duplicates
        (s, i.toLong)
      }
      val heap = new graft.scale.TopKHeap(k, desc)
      pairs.foreach { case (s, t) => heap.add(s, t) }
      val kept = (0 until heap.n).map(i => (heap.scores(i), heap.ties(i)))
        .sortWith(sparkLt(desc))
        // NaN != NaN breaks tuple equality — compare on bit patterns
        .map { case (s, t) => (java.lang.Double.doubleToLongBits(
          if (s == 0.0) 0.0 else s), t) }
      val want = pairs.sortWith(sparkLt(desc)).take(k)
        .map { case (s, t) => (java.lang.Double.doubleToLongBits(
          if (s == 0.0) 0.0 else s), t) }.toSeq
      assert(kept == want, s"trial $trial (n=$n k=$k desc=$desc)")
      // two heaps over a split of the pairs merge to the same top-k,
      // and the drain lists it in the sort's order
      val (l, r) = pairs.partition(_ => rng.nextBoolean())
      val merged = new graft.scale.TopKHeap(k, desc)
      val other = new graft.scale.TopKHeap(k, desc)
      l.foreach { case (s, t) => merged.add(s, t) }
      r.foreach { case (s, t) => other.add(s, t) }
      val m = merged.merge(other).drain()
      val drained = (0 until m).map { i => val s = merged.scores(i)
        (java.lang.Double.doubleToLongBits(if (s == 0.0) 0.0 else s), merged.ties(i)) }
      assert(drained == want && merged.n == 0, s"trial $trial merge/drain")
    }
  }
}
