package graft.stats

/** Maximum Mean Discrepancy with RBF kernel + seeded permutation test.
  *
  * From-scratch implementation of the statistic the reference delegates to
  * frouros (`frouros.detectors.data_drift.MMD` with
  * `frouros.utils.kernels.rbf_kernel`, reference ml/training.py:131-147;
  * compare at detector_api/app/detector.py:58-60). Operates on bounded
  * samples — exactly like the reference, which fits on a 6,000-row reference
  * window (ml/training.py:252) and compares 10,000-row batches
  * (ml/testing.py:61). At 100 TB scale the *sampling* is distributed (Spark
  * side); this math runs on the bounded per-partition samples. The engine's
  * permutation test (`DriftChecks.mmd`, `DriftChecks.mmdDistributed`) runs
  * [[permutationStats]] once per task over a part's pooled sample.
  */
object Mmd {

  /** RBF kernel k(x,y) = exp(-||x-y||² / (2σ²)). */
  @inline def rbf(x: Array[Double], y: Array[Double], sigma: Double): Double = {
    var s = 0.0
    var i = 0
    while (i < x.length) { val d = x(i) - y(i); s += d * d; i += 1 }
    math.exp(-s / (2.0 * sigma * sigma))
  }

  @inline private def sqDist(x: Array[Double], y: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < x.length) { val d = x(i) - y(i); s += d * d; i += 1 }
    s
  }

  /** Median pairwise euclidean distance — the σ heuristic
    * (reference ml/training.py:123-129: `sigma = median(pdist(X_ref))`).
    * Exact median over the given (bounded, pre-sampled) rows. */
  def medianHeuristicSigma(x: Array[Array[Double]], maxRows: Int = 2000): Double = {
    val xs = if (x.length > maxRows) x.take(maxRows) else x
    val n = xs.length
    if (n < 2) return 1.0
    val dists = new Array[Double](n * (n - 1) / 2)
    var k = 0
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        dists(k) = math.sqrt(sqDist(xs(i), xs(j)))
        k += 1
        j += 1
      }
      i += 1
    }
    java.util.Arrays.sort(dists)
    val m = dists.length
    val med = if (m % 2 == 1) dists(m / 2) else 0.5 * (dists(m / 2 - 1) + dists(m / 2))
    if (med <= 0) 1.0 else med
  }

  /** Unbiased MMD² estimator between samples X (ref) and Y (prod):
    * 1/(m(m-1)) Σ_{i≠j} k(xi,xj) + 1/(n(n-1)) Σ_{i≠j} k(yi,yj) − 2/(mn) Σ k(xi,yj).
    * Floored at 0 for the reported distance (can be slightly negative). */
  def mmd2(x: Array[Array[Double]], y: Array[Array[Double]], sigma: Double): Double = {
    val m = x.length
    val n = y.length
    if (m < 2 || n < 2) return 0.0
    var kxx = 0.0
    var i = 0
    while (i < m) {
      var j = i + 1
      while (j < m) { kxx += rbf(x(i), x(j), sigma); j += 1 }
      i += 1
    }
    var kyy = 0.0
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) { kyy += rbf(y(i), y(j), sigma); j += 1 }
      i += 1
    }
    var kxy = 0.0
    i = 0
    while (i < m) {
      var j = 0
      while (j < n) { kxy += rbf(x(i), y(j), sigma); j += 1 }
      i += 1
    }
    2.0 * kxx / (m.toDouble * (m - 1)) +
      2.0 * kyy / (n.toDouble * (n - 1)) -
      2.0 * kxy / (m.toDouble * n)
  }

  /** MMD distance (sqrt of max(mmd², 0)) — reported like frouros's
    * `DistanceResult.distance`. */
  def distance(x: Array[Array[Double]], y: Array[Array[Double]], sigma: Double): Double =
    math.sqrt(math.max(0.0, mmd2(x, y, sigma)))

  /** Partial kernel sum over a block pair — the unit of work for the
    * distributed EXACT (unsampled) MMD path (DriftChecks.mmdExactDistance):
    * Σ k(a_i, b_j) for i ∈ [i0,i1), j ∈ [j0,j1). With `strictUpper` (same
    * array on both sides) only pairs with i < j count, so summing all block
    * pairs (bi ≤ bj) yields exactly the strict upper triangle. Pure math —
    * no Spark dependency (this object stays Spark-free). */
  def kernelBlockSum(a: Array[Array[Double]], i0: Int, i1: Int,
                     b: Array[Array[Double]], j0: Int, j1: Int,
                     sigma: Double, strictUpper: Boolean): Double = {
    var s = 0.0
    var i = i0
    while (i < i1) {
      var j = if (strictUpper) math.max(j0, i + 1) else j0
      while (j < j1) { s += rbf(a(i), b(j), sigma); j += 1 }
      i += 1
    }
    s
  }

  /** Unbiased MMD² from precomputed pair sums (sxx/syy strict-upper within
    * X/Y, sxy over the full X×Y rectangle). */
  def mmd2FromSums(sxx: Double, syy: Double, sxy: Double, m: Int, n: Int): Double =
    2.0 * sxx / (m.toDouble * (m - 1)) +
      2.0 * syy / (n.toDouble * (n - 1)) -
      2.0 * sxy / (m.toDouble * n)

  /** MMD distance of every permutation in `perms` over one pooled sample,
    * in ONE pass over the kernel's strict upper triangle and without ever
    * materializing the kernel matrix. `perms(b)` is a permuted index order
    * of `pool`: its first m entries form X_b, the rest Y_b (the identity
    * order gives the observed statistic).
    *
    * Row i's kernel entries v_j = k(pool_i, pool_j) for j > i are computed
    * once (float-rounded, double-accumulated) and feed three sums:
    *   - the total sT = Σ_{i<j} v_ij and the row sums R_i = Σ_{j≠i} v_ij;
    *   - for each permutation b with i ∈ X_b, sxx_b += Σ_{j>i, j∈X_b} v_j,
    *     read off b's X-membership bitset into a register accumulator, and
    *     rx_b += R_i.
    * With rx_b = Σ_{i∈X_b} R_i = 2·sxx_b + sxy_b, the other two pair sums
    * follow without touching a Y–Y pair: sxy_b = rx_b − 2·sxx_b and
    * syy_b = sT − sxx_b − sxy_b = sT − rx_b + sxx_b.
    *
    * Memory: O(n) for the row and its sums plus perms × ⌈n/64⌉ bitset words.
    * Permutation b's result depends only on b's own split, never on which
    * other permutations share the call. Returns all zeros when either side
    * has fewer than two rows (the estimator is undefined there). */
  def permutationStats(pool: Array[Array[Double]], m: Int, sigma: Double,
                       perms: Array[Array[Int]]): Array[Double] = {
    val n = pool.length
    val nb = perms.length
    val n2 = n - m
    if (m < 2 || n2 < 2) return new Array[Double](nb)
    val words = (n + 63) >>> 6
    // bit i of inX(b * words + i / 64): pool index i lands in X_b
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
        val kv = rbf(xi, pool(j), sigma).toFloat.toDouble
        v(j) = kv
        ri += kv
        rowSum(j) += kv
        sT += kv
        j += 1
      }
      // row i's sum is complete here: earlier rows already added theirs
      val w0 = i >>> 6
      val bit = 1L << i
      b = 0
      while (b < nb) {
        val base = b * words
        if ((inX(base + w0) & bit) != 0) {
          var s = 0.0
          var w = w0
          var word = inX(base + w0) & (-2L << i) // members above i only
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
      math.sqrt(math.max(0.0, mmd2FromSums(sxx(t), syy, sxy, m, n2)))
    }
  }

  /** One permutation's statistic: pool = ref ++ prod rows, shuffled with a
    * seed derived from (randomState, permId), re-split at the original sizes.
    * Deterministic regardless of task placement. */
  def permutedStat(pool: Array[Array[Double]], m: Int, sigma: Double,
                   randomState: Long, permId: Long): Double = {
    val seed = randomState * 0x9E3779B97F4A7C15L + permId
    val idx = StatMath.permutation(pool.length, seed)
    val px = new Array[Array[Double]](m)
    val py = new Array[Array[Double]](pool.length - m)
    var i = 0
    while (i < m) { px(i) = pool(idx(i)); i += 1 }
    while (i < pool.length) { py(i - m) = pool(idx(i)); i += 1 }
    distance(px, py, sigma)
  }

  /** Full permutation test run locally, one explicit split per permutation
    * (used in unit tests; the engine evaluates its permutations with
    * [[permutationStats]]).
    * p = #{perm >= observed} / P — the plain proportion, matching the
    * reference's semantics (frouros PermutationTestDistanceBased with 100
    * perms trips verdicts at α=0.01 in ml/testing.py:183, which requires p
    * to reach below 1/(P+1); seed 31 per ml/training.py:535-537). */
  def permutationTest(x: Array[Array[Double]], y: Array[Array[Double]], sigma: Double,
                      numPermutations: Int = 100, randomState: Long = 31L): (Double, Double) = {
    val obs = distance(x, y, sigma)
    val pool = x ++ y
    var ge = 0
    var p = 0
    while (p < numPermutations) {
      if (permutedStat(pool, x.length, sigma, randomState, p.toLong) >= obs) ge += 1
      p += 1
    }
    (obs, ge.toDouble / numPermutations)
  }
}
