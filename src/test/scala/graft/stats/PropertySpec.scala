package graft.stats

import org.scalatest.funsuite.AnyFunSuite

/** Property-style invariants (SURVEY.md §5.2), checked over seeded random
  * sweeps (deterministic — no flaky CI). */
class PropertySpec extends AnyFunSuite {
  private val rng = new StatMath.SplitMix64(987654321L)
  private def counts(n: Int): Array[Long] = Array.fill(n)(rng.nextInt(5000).toLong)
  private def vecs(n: Int, d: Int): Array[Array[Double]] =
    Array.fill(n)(Array.fill(d)(rng.nextDouble() * 4.0 - 2.0))

  test("chi2TwoSample: p in [0,1], stat >= 0; self-comparison p = 1") {
    (1 to 200).foreach { _ =>
      val a = counts(4)
      val b = counts(4)
      val (stat, p) = StatMath.chi2TwoSample(a, b)
      assert(p >= 0.0 && p <= 1.0 && stat >= 0.0)
      if (a.count(_ > 0) >= 2) {
        val (s2, p2) = StatMath.chi2TwoSample(a, a)
        assert(s2 < 1e-9 && p2 > 0.999999) // FP residue only
      }
    }
  }

  test("psi: non-negative, zero on identical distributions") {
    (1 to 200).foreach { _ =>
      def props(): Array[Double] = {
        val xs = Array.fill(5)(rng.nextDouble() + 0.01)
        val s = xs.sum
        xs.map(_ / s)
      }
      val p = props(); val q = props()
      assert(StatMath.psi(p, q) >= -1e-12)
      assert(math.abs(StatMath.psi(p, p)) < 1e-12)
    }
  }

  test("kolmogorovSf: monotone non-increasing on [0, 3]") {
    (1 to 200).foreach { _ =>
      val x = rng.nextDouble() * 2.9
      val d = rng.nextDouble() * 0.1 + 0.01
      assert(StatMath.kolmogorovSf(x) >= StatMath.kolmogorovSf(x + d) - 1e-12)
    }
  }

  test("permutation: always a bijection, seed-deterministic") {
    (1 to 200).foreach { _ =>
      val n = rng.nextInt(200) + 1
      val seed = rng.nextLong()
      val p = StatMath.permutation(n, seed)
      assert(p.sorted.sameElements(Array.tabulate(n)(identity)))
      assert(p.sameElements(StatMath.permutation(n, seed)))
    }
  }

  test("mmd2 symmetry: mmd2(x,y) == mmd2(y,x)") {
    (1 to 50).foreach { _ =>
      val x = vecs(8, 3); val y = vecs(8, 3)
      assert(math.abs(Mmd.mmd2(x, y, 1.0) - Mmd.mmd2(y, x, 1.0)) < 1e-12)
    }
  }

  test("kernel-matrix statistic agrees with direct computation (identity split)") {
    (1 to 50).foreach { _ =>
      val x = vecs(10, 3); val y = vecs(12, 3)
      val direct = Mmd.distance(x, y, 1.0)
      val pool = x ++ y
      val viaKernel = Mmd.permutationStats(pool, x.length, 1.0,
        Array(Array.tabulate(pool.length)(identity)))(0)
      assert(math.abs(direct - viaKernel) < 1e-4, s"$direct vs $viaKernel")
    }
  }

  test("batched bitmask permutation evaluation matches per-permutation path") {
    (1 to 10).foreach { round =>
      val x = vecs(20, 3); val y = vecs(25, 3)
      val pool = x ++ y
      val n = pool.length
      // mix of identity + seeded permutations, batch width up to 64
      val perms = Array.tabulate(math.min(64, 3 + round * 6)) { b =>
        if (b == 0) Array.tabulate(n)(identity)
        else StatMath.permutation(n, round * 1000L + b)
      }
      val batch = Mmd.permutationStats(pool, x.length, 1.0, perms)
      perms.zipWithIndex.foreach { case (p, b) =>
        val single = Mmd.permutationStats(pool, x.length, 1.0, Array(p))(0)
        assert(math.abs(batch(b) - single) < 1e-9,
          s"round=$round b=$b ${batch(b)} vs $single")
      }
    }
  }

  test("permutationStats == MMD of each explicit split, 1 to 130 perms") {
    val sigma = 0.9
    // the engine's statistic: Mmd.distance over float-rounded kernel entries
    def rbfF(a: Array[Double], b: Array[Double]): Double = Mmd.rbf(a, b, sigma).toFloat.toDouble
    def explicit(x: Array[Array[Double]], y: Array[Array[Double]]): Double = {
      def upper(a: Array[Array[Double]]): Double =
        (for (i <- a.indices; j <- i + 1 until a.length) yield rbfF(a(i), a(j))).sum
      val sxy = (for (p <- x; q <- y) yield rbfF(p, q)).sum
      math.sqrt(math.max(0.0,
        Mmd.mmd2FromSums(upper(x), upper(y), sxy, x.length, y.length)))
    }
    def close(a: Double, b: Double, rel: Double): Boolean =
      math.abs(a - b) <= rel * math.max(math.max(math.abs(a), math.abs(b)), 1e-9)
    Seq(1, 63, 64, 65, 130).zipWithIndex.foreach { case (nPerms, round) =>
      // pool of 70: the X-membership bitsets span two words too
      val x = vecs(30, 3); val y = vecs(40, 3)
      val pool = x ++ y
      val n = pool.length
      val perms = Array.tabulate(nPerms) { b =>
        if (b == 0) Array.tabulate(n)(identity)
        else StatMath.permutation(n, round * 1000L + b)
      }
      val got = Mmd.permutationStats(pool, x.length, sigma, perms)
      assert(got.length == nPerms)
      perms.zipWithIndex.foreach { case (p, b) =>
        val xb = p.take(x.length).map(pool)
        val yb = p.drop(x.length).map(pool)
        val want = explicit(xb, yb)
        assert(close(got(b), want, 1e-9), s"perms=$nPerms b=$b ${got(b)} vs $want")
        // double-kernel Mmd.distance differs only by the float rounding
        assert(math.abs(got(b) - Mmd.distance(xb, yb, sigma)) < 1e-4)
      }
      assert(got(0) == Mmd.permutationStats(pool, x.length, sigma, perms.take(1))(0),
        "a permutation's statistic must not depend on the rest of the batch")
      assert(close(got(0), explicit(x, y), 1e-9))
      assert(math.abs(got(0) - Mmd.distance(x, y, sigma)) < 1e-4)
    }
    // fewer than two rows on either side: the estimator is undefined -> 0
    val pool = vecs(6, 3)
    val perms = Array.tabulate(3)(b => StatMath.permutation(6, b.toLong))
    Seq(0, 1, 5, 6).foreach { m =>
      assert(Mmd.permutationStats(pool, m, 1.0, perms).sameElements(Array(0.0, 0.0, 0.0)), s"m=$m")
    }
  }

  test("mmd2FromSums over strict-upper/rectangle `rbf` sums reproduces mmd2") {
    val rng = new StatMath.SplitMix64(99L)
    val x = Array.fill(23, 4)(rng.nextDouble())
    val y = Array.fill(57, 4)(rng.nextDouble())
    val sigma = 0.8
    def strictUpper(a: Array[Array[Double]]): Double = {
      var s = 0.0
      for (i <- a.indices; j <- i + 1 until a.length) s += Mmd.rbf(a(i), a(j), sigma)
      s
    }
    var sxy = 0.0
    for (i <- x.indices; j <- y.indices) sxy += Mmd.rbf(x(i), y(j), sigma)
    val got = Mmd.mmd2FromSums(strictUpper(x), strictUpper(y), sxy, x.length, y.length)
    assert(math.abs(got - Mmd.mmd2(x, y, sigma)) < 1e-12)
  }

  test("sketch merge: KLL merge associativity within rank error") {
    val spark = graft.SparkTestBase.spark
    import org.apache.datasketches.kll.KllDoublesSketch
    val a = KllDoublesSketch.newHeapInstance(200)
    val b = KllDoublesSketch.newHeapInstance(200)
    val c = KllDoublesSketch.newHeapInstance(200)
    (1 to 10000).foreach { i => a.update(i.toDouble) }
    (10001 to 20000).foreach { i => b.update(i.toDouble) }
    (20001 to 30000).foreach { i => c.update(i.toDouble) }
    val ab_c = KllDoublesSketch.newHeapInstance(200)
    ab_c.merge(a); ab_c.merge(b); ab_c.merge(c)
    val c_ba = KllDoublesSketch.newHeapInstance(200)
    c_ba.merge(c); c_ba.merge(b); c_ba.merge(a)
    Seq(0.1, 0.5, 0.9).foreach { q =>
      val d = math.abs(ab_c.getQuantile(q) - c_ba.getQuantile(q))
      assert(d < 30000 * 0.035, s"q=$q diff=$d") // ~2x KLL k=200 rank error
    }
    assert(ab_c.getN == 30000 && c_ba.getN == 30000)
  }
}
