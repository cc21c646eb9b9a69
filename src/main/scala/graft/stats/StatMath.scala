package graft.stats

/** Pure-Scala statistical math for the drift checks (no Spark deps).
  *
  * Generalizes the reference's verdict contract: `is_drift = p_value <= alpha`
  * (reference: detector_api/app/detector.py:68). The reference delegates all
  * p-value math to frouros 0.6.1; here the math is from-scratch using standard
  * published formulas (Numerical Recipes-style incomplete gamma / Kolmogorov
  * asymptotics).
  */
object StatMath {

  /** ln Γ(x) via Lanczos approximation (g=7, n=9 coefficients). */
  def lnGamma(x: Double): Double = {
    require(x > 0, s"lnGamma domain: $x")
    val g = 7.0
    val c = Array(
      0.99999999999980993, 676.5203681218851, -1259.1392167224028,
      771.32342877765313, -176.61502916214059, 12.507343278686905,
      -0.13857109526572012, 9.9843695780195716e-6, 1.5056327351493116e-7)
    if (x < 0.5) {
      // reflection
      math.log(math.Pi / math.sin(math.Pi * x)) - lnGamma(1.0 - x)
    } else {
      val z = x - 1.0
      var a = c(0)
      val t = z + g + 0.5
      var i = 1
      while (i < 9) { a += c(i) / (z + i); i += 1 }
      0.5 * math.log(2 * math.Pi) + (z + 0.5) * math.log(t) - t + math.log(a)
    }
  }

  /** Regularized lower incomplete gamma P(a, x) by series expansion (x < a+1). */
  private def gammaPSeries(a: Double, x: Double): Double = {
    var ap = a
    var sum = 1.0 / a
    var del = sum
    var n = 0
    while (n < 500 && math.abs(del) >= math.abs(sum) * 1e-15) {
      ap += 1.0
      del *= x / ap
      sum += del
      n += 1
    }
    sum * math.exp(-x + a * math.log(x) - lnGamma(a))
  }

  /** Regularized upper incomplete gamma Q(a, x) by continued fraction (x >= a+1). */
  private def gammaQContFrac(a: Double, x: Double): Double = {
    val fpmin = 1e-300
    var b = x + 1.0 - a
    var c = 1.0 / fpmin
    var d = 1.0 / b
    var h = d
    var i = 1
    var del = 0.0
    do {
      val an = -i * (i - a)
      b += 2.0
      d = an * d + b; if (math.abs(d) < fpmin) d = fpmin
      c = b + an / c; if (math.abs(c) < fpmin) c = fpmin
      d = 1.0 / d
      del = d * c
      h *= del
      i += 1
    } while (i < 500 && math.abs(del - 1.0) > 1e-15)
    math.exp(-x + a * math.log(x) - lnGamma(a)) * h
  }

  /** Regularized lower incomplete gamma P(a, x). */
  def gammaP(a: Double, x: Double): Double = {
    require(a > 0 && x >= 0, s"gammaP domain: a=$a x=$x")
    if (x == 0) 0.0
    else if (x < a + 1.0) gammaPSeries(a, x)
    else 1.0 - gammaQContFrac(a, x)
  }

  /** Regularized upper incomplete gamma Q(a, x) = 1 - P(a, x). */
  def gammaQ(a: Double, x: Double): Double = {
    require(a > 0 && x >= 0, s"gammaQ domain: a=$a x=$x")
    if (x == 0) 1.0
    else if (x < a + 1.0) 1.0 - gammaPSeries(a, x)
    else gammaQContFrac(a, x)
  }

  /** Chi-squared survival function: P(X >= stat) for df degrees of freedom. */
  def chi2Sf(stat: Double, df: Int): Double = {
    require(df > 0, s"chi2 df=$df")
    if (stat <= 0) 1.0 else gammaQ(df / 2.0, stat / 2.0)
  }

  /** Two-sample chi-squared homogeneity test on category counts.
    * Returns (statistic, pValue). Categories with zero pooled count dropped. */
  def chi2TwoSample(refCounts: Array[Long], prodCounts: Array[Long]): (Double, Double) = {
    chi2Contributions(refCounts, prodCounts) match {
      case None => (0.0, 1.0)
      case Some(cs) =>
        // ascending-index summation — the exact order the pre-refactor loop
        // used, so the statistic stays bit-identical
        var stat = 0.0
        var kept = 0
        cs.foreach { c => if (!c.isNaN) { stat += c; kept += 1 } }
        (stat, chi2Sf(stat, kept - 1))
    }
  }

  /** Per-category contribution to the two-sample chi² statistic (root-cause
    * attribution): index i carries dR²/eRef + dP²/eProd under the pooled
    * expectation, NaN where the category was dropped (pooled count 0).
    * None when the test is degenerate (fewer than 2 kept categories or an
    * empty side — where [[chi2TwoSample]] returns (0, 1)). Law (spec-pinned):
    * the ascending-index sum of the defined entries IS the statistic,
    * bit for bit. */
  def chi2Contributions(refCounts: Array[Long],
                        prodCounts: Array[Long]): Option[Array[Double]] = {
    require(refCounts.length == prodCounts.length)
    val keep = refCounts.indices.filter(i => refCounts(i) + prodCounts(i) > 0)
    val nRef = refCounts.map(_.toDouble).sum
    val nProd = prodCounts.map(_.toDouble).sum
    if (keep.size < 2 || nRef == 0 || nProd == 0) return None
    val total = nRef + nProd
    val out = Array.fill(refCounts.length)(Double.NaN)
    keep.foreach { i =>
      val pooled = (refCounts(i) + prodCounts(i)) / total
      val eRef = pooled * nRef
      val eProd = pooled * nProd
      val dR = refCounts(i) - eRef
      val dP = prodCounts(i) - eProd
      out(i) = dR * dR / eRef + dP * dP / eProd
    }
    Some(out)
  }

  /** Per-bucket contribution to [[psi]] (root-cause attribution):
    * (q−p)·ln(q/p) with the same eps flooring. Law (spec-pinned): the
    * ascending-index sum IS the PSI, bit for bit. */
  def psiContributions(refProp: Array[Double], prodProp: Array[Double],
                       eps: Double = 1e-6): Array[Double] = {
    require(refProp.length == prodProp.length)
    Array.tabulate(refProp.length) { i =>
      val p = math.max(refProp(i), eps)
      val q = math.max(prodProp(i), eps)
      (q - p) * math.log(q / p)
    }
  }

  /** Kolmogorov distribution survival function
    * Q_KS(x) = 2 Σ (-1)^{k-1} e^{-2k²x²}. For small x that series converges
    * slowly, so the Jacobi-theta dual form is used there:
    * CDF(x) = (√(2π)/x) Σ e^{-(2k-1)²π²/(8x²)}. */
  def kolmogorovSf(x: Double): Double = {
    if (x <= 0) return 1.0
    if (x < 1.0) {
      var cdf = 0.0
      var k = 1
      var term = 0.0
      do {
        val a = (2 * k - 1) * math.Pi / x
        term = math.exp(-a * a / 8.0)
        cdf += term
        k += 1
      } while (k <= 20 && term > 1e-18)
      return math.max(0.0, math.min(1.0, 1.0 - math.sqrt(2.0 * math.Pi) / x * cdf))
    }
    var sum = 0.0
    var k = 1
    var term = 0.0
    do {
      term = 2.0 * math.pow(-1.0, (k - 1).toDouble) * math.exp(-2.0 * k * k * x * x)
      sum += term
      k += 1
    } while (k <= 100 && math.abs(term) > 1e-15)
    math.max(0.0, math.min(1.0, sum))
  }

  /** Two-sample KS p-value from D-statistic and sample sizes (asymptotic,
    * Numerical Recipes small-sample correction). */
  def ksPValue(d: Double, n: Long, m: Long): Double = {
    if (n == 0 || m == 0) return 1.0
    val en = math.sqrt(n.toDouble * m.toDouble / (n.toDouble + m.toDouble))
    kolmogorovSf((en + 0.12 + 0.11 / en) * d)
  }

  /** Population Stability Index over matched bucket proportion arrays.
    * Zero proportions floored at eps (standard practice). */
  def psi(refProp: Array[Double], prodProp: Array[Double], eps: Double = 1e-6): Double = {
    require(refProp.length == prodProp.length)
    var s = 0.0
    var i = 0
    while (i < refProp.length) {
      val p = math.max(refProp(i), eps)
      val q = math.max(prodProp(i), eps)
      s += (q - p) * math.log(q / p)
      i += 1
    }
    s
  }

  /** Jensen–Shannon divergence (base 2 — bounded [0, 1]) between two count
    * histograms over the SAME category universe. Exact-count formulation:
    * zero-count cells contribute zero from that side (0·log 0 = 0), no eps
    * flooring needed — JSD is finite for disjoint supports, unlike KL/PSI. */
  def jsd(refCounts: Array[Long], prodCounts: Array[Long]): Double = {
    require(refCounts.length == prodCounts.length)
    val nR = refCounts.sum.toDouble
    val nP = prodCounts.sum.toDouble
    if (nR == 0 || nP == 0) return if (nR == nP) 0.0 else 1.0
    val ln2 = math.log(2.0)
    var s = 0.0
    var i = 0
    while (i < refCounts.length) {
      val p = refCounts(i) / nR
      val q = prodCounts(i) / nP
      val m = 0.5 * (p + q)
      if (p > 0) s += 0.5 * p * math.log(p / m)
      if (q > 0) s += 0.5 * q * math.log(q / m)
      i += 1
    }
    math.max(0.0, s / ln2)
  }

  /** Wasserstein-1 (earth mover's) distance between two empirical CDFs
    * evaluated at shared grid edges: Σ |F_ref(e_j) − F_prod(e_j)| × (e_{j+1}
    * − e_j). Exact for distributions supported on the edges; grid-censored
    * otherwise (mass beyond the last edge contributes nothing — the caller
    * reports it separately). */
  def emdFromCdfs(edges: Array[Double], refCdf: Array[Double],
                  prodCdf: Array[Double]): Double = {
    require(edges.length == refCdf.length && edges.length == prodCdf.length)
    var s = 0.0
    var j = 0
    while (j < edges.length - 1) {
      s += math.abs(refCdf(j) - prodCdf(j)) * (edges(j + 1) - edges(j))
      j += 1
    }
    s
  }

  /** KS D-statistic between two empirical CDFs evaluated on a merged grid.
    * `refQ`/`prodQ` are CDF evaluators (monotone, in [0,1]). */
  def ksD(grid: Array[Double], refCdf: Double => Double, prodCdf: Double => Double): Double = {
    var d = 0.0
    var i = 0
    while (i < grid.length) {
      val diff = math.abs(refCdf(grid(i)) - prodCdf(grid(i)))
      if (diff > d) d = diff
      i += 1
    }
    d
  }

  /** SplitMix64 — deterministic RNG stream used for the permutation test so
    * p-values are reproducible regardless of task placement (mirrors the
    * reference's seeded test, ml/training.py:535-537, random_state=31). */
  final class SplitMix64(seed0: Long) {
    private var state = seed0
    def nextLong(): Long = {
      state += 0x9E3779B97F4A7C15L
      var z = state
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    def nextInt(bound: Int): Int = {
      require(bound > 0)
      var r = nextLong() >>> 1
      (r % bound).toInt
    }
    def nextDouble(): Double = (nextLong() >>> 11) * 1.1102230246251565e-16
  }

  /** Deterministic in-place Fisher-Yates shuffle of indices [0, n). */
  def permutation(n: Int, seed: Long): Array[Int] = {
    val idx = Array.tabulate(n)(identity)
    val rng = new SplitMix64(seed)
    var i = n - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = idx(i); idx(i) = idx(j); idx(j) = t
      i -= 1
    }
    idx
  }
}
