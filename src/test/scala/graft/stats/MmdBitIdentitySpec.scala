package graft.stats

import org.scalatest.funsuite.AnyFunSuite

/** `Mmd.permutationStats` against a frozen copy of its earlier sparse-bitset
  * kernel (row-major `rbf` per pair, one permutation at a time, one
  * register sum per row over the permutation's X-membership bitset). The
  * statistics feed p-values through `>=`, so the rewrite must reproduce
  * every output bit for bit, not within a tolerance. */
class MmdBitIdentitySpec extends AnyFunSuite {

  /** The sparse-bitset kernel, kept verbatim as the reference. */
  private def bitsetStats(pool: Array[Array[Double]], m: Int, sigma: Double,
                          perms: Array[Array[Int]]): Array[Double] = {
    val n = pool.length
    val nb = perms.length
    val n2 = n - m
    if (m < 2 || n2 < 2) return new Array[Double](nb)
    val words = (n + 63) >>> 6
    val inX = new Array[Long](nb * words)
    var b = 0
    while (b < nb) {
      val p = perms(b)
      val base = b * words
      var t = 0
      while (t < m) { val i = p(t); inX(base + (i >>> 6)) |= 1L << i; t += 1 }
      b += 1
    }
    val v = new Array[Double](n)
    val rowSum = new Array[Double](n)
    val sxx = new Array[Double](nb)
    val rx = new Array[Double](nb)
    var sT = 0.0
    var i = 0
    while (i < n) {
      val xi = pool(i)
      var ri = rowSum(i)
      var j = i + 1
      while (j < n) {
        val kv = Mmd.rbf(xi, pool(j), sigma).toFloat.toDouble
        v(j) = kv
        ri += kv
        rowSum(j) += kv
        sT += kv
        j += 1
      }
      val w0 = i >>> 6
      val bit = 1L << i
      b = 0
      while (b < nb) {
        val base = b * words
        if ((inX(base + w0) & bit) != 0) {
          var s = 0.0
          var w = w0
          var word = inX(base + w0) & (-2L << i)
          while (w < words) {
            val off = w << 6
            while (word != 0) {
              s += v(off + java.lang.Long.numberOfTrailingZeros(word))
              word &= word - 1
            }
            w += 1
            if (w < words) word = inX(base + w)
          }
          sxx(b) += s
          rx(b) += ri
        }
        b += 1
      }
      i += 1
    }
    Array.tabulate(nb) { t =>
      val sxy = rx(t) - 2.0 * sxx(t)
      val syy = sT - rx(t) + sxx(t)
      math.sqrt(math.max(0.0, Mmd.mmd2FromSums(sxx(t), syy, sxy, m, n2)))
    }
  }

  private val rng = new StatMath.SplitMix64(5150L)

  /** Rows mixing continuous values, a coarse grid (repeated coordinates
    * and duplicate rows, so zero distances occur) and a shifted cluster. */
  private def pool(n: Int, d: Int): Array[Array[Double]] =
    Array.tabulate(n) { r =>
      val shift = if (r % 5 == 0) 1.5 else 0.0
      Array.fill(d) {
        if (r % 3 == 0) math.floor(rng.nextDouble() * 4) / 4 + shift
        else rng.nextDouble() * 2 + shift
      }
    }

  private def perms(n: Int, count: Int, seed: Long): Array[Array[Int]] =
    Array.tabulate(count) { b =>
      if (b == 0) Array.tabulate(n)(identity)
      else StatMath.permutation(n, seed * 7919L + b)
    }

  private def assertIdentical(p: Array[Array[Double]], m: Int, sigma: Double,
                              ps: Array[Array[Int]], what: String): Unit = {
    val got = Mmd.permutationStats(p, m, sigma, ps)
    val want = bitsetStats(p, m, sigma, ps)
    assert(got.length == want.length, what)
    got.indices.foreach { b =>
      assert(java.lang.Double.doubleToRawLongBits(got(b)) ==
        java.lang.Double.doubleToRawLongBits(want(b)),
        s"$what perm $b: ${got(b)} vs ${want(b)}")
    }
  }

  private val permCounts = Seq(1, 3, 4, 5, 8, 9, 101, 130)

  test("permutationStats is bit-identical to the sparse-bitset kernel, n 4 to 130") {
    for {
      n <- Seq(4, 63, 64, 65, 130)
      d <- Seq(1, 6)
      m <- if (n == 4) Seq(2) else Seq(n / 3, n - n / 3 - 1)
      count <- permCounts
    } {
      val p = pool(n, d)
      val sigma = Mmd.medianHeuristicSigma(p)
      val ps = perms(n, count, n * 1000L + d * 100L + count)
      assertIdentical(p, m, sigma, ps, s"n=$n d=$d m=$m perms=$count")
      // a narrow kernel: most entries round to 0 or to subnormal floats
      assertIdentical(p, m, sigma / 20, ps, s"n=$n d=$d m=$m perms=$count narrow")
    }
  }

  test("permutationStats is bit-identical to the sparse-bitset kernel at n = 4000") {
    val p6 = pool(4000, 6)
    assertIdentical(p6, 2000, Mmd.medianHeuristicSigma(p6), perms(4000, 101, 1L),
      "n=4000 m=2000 d=6 perms=101")
    val p1 = pool(4000, 1)
    assertIdentical(p1, 1500, Mmd.medianHeuristicSigma(p1), perms(4000, 9, 2L),
      "n=4000 m=1500 d=1 perms=9")
  }

  test("fewer than two rows on a side gives all zeros, as before") {
    Seq(4, 65).foreach { n =>
      val p = pool(n, 6)
      Seq(0, 1, n - 1, n).foreach { m =>
        permCounts.foreach { count =>
          val got = Mmd.permutationStats(p, m, 1.0, perms(n, count, 3L))
          assert(got.length == count && got.forall(_ == 0.0), s"n=$n m=$m perms=$count")
          assertIdentical(p, m, 1.0, perms(n, count, 3L), s"n=$n m=$m perms=$count")
        }
      }
    }
  }
}
