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
  * permutation test (`DriftChecks.mmd`) runs [[permutationStats]] once per
  * task over a part's pooled sample.
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
    * once (float-rounded, double-accumulated; see [[KernelRows]]) and feed
    * three sums:
    *   - the total sT = Σ_{i<j} v_ij and the row sums R_i = Σ_{j≠i} v_ij;
    *   - for each permutation b with i ∈ X_b, sxx_b += Σ_{j>i, j∈X_b} v_j,
    *     gathered over X_b's members in ascending order, and rx_b += R_i.
    * With rx_b = Σ_{i∈X_b} R_i = 2·sxx_b + sxy_b, the other two pair sums
    * follow without touching a Y–Y pair: sxy_b = rx_b − 2·sxx_b and
    * syy_b = sT − sxx_b − sxy_b = sT − rx_b + sxx_b.
    *
    * Cost: the row kernel is a zero fill and d element-wise passes plus
    * one exp pass per row, and the gathers run four permutations at a
    * time, each into its own accumulator, so the pass is bound by add
    * throughput rather than add latency. Every row partial is still one
    * ascending chain added to sxx_b once, so the results are bit-identical
    * to summing each permutation alone. Memory: O(n·d) for the transposed pool plus the
    * row and its sums, and perms × m ints for the sorted X members (0.8 MB
    * at 101 permutations of 2000 + 2000 rows). Permutation b's result
    * depends only on b's own split, never on which other permutations share
    * the call. Returns all zeros when either side has fewer than two rows
    * (the estimator is undefined there). */
  def permutationStats(pool: Array[Array[Double]], m: Int, sigma: Double,
                       perms: Array[Array[Int]]): Array[Double] = {
    val n = pool.length
    val nb = perms.length
    val n2 = n - m
    if (m < 2 || n2 < 2) return new Array[Double](nb)
    // mem(b * m until (b + 1) * m): X_b's pool indices, ascending;
    // cur(b): X_b's first member not yet reached by the row loop
    val mem = new Array[Int](nb * m)
    val cur = new Array[Int](nb)
    var b = 0
    while (b < nb) {
      System.arraycopy(perms(b), 0, mem, b * m, m)
      java.util.Arrays.sort(mem, b * m, (b + 1) * m)
      cur(b) = b * m
      b += 1
    }
    val rows = new KernelRows(pool, sigma)
    val v = rows.v
    val sxx = new Array[Double](nb)
    val rx = new Array[Double](nb)
    val hit = new Array[Int](nb)
    var i = 0
    while (i < n) {
      val ri = rows.next(i)
      // the permutations whose X holds i; their cursors move past i
      var h = 0
      b = 0
      while (b < nb) {
        val c = cur(b)
        if (c < (b + 1) * m && mem(c) == i) {
          hit(h) = b
          cur(b) = c + 1
          rx(b) += ri
          h += 1
        }
        b += 1
      }
      var g = 0
      while (g + 4 <= h) {
        gather4(v, mem, sxx, m, cur, hit(g), hit(g + 1), hit(g + 2), hit(g + 3))
        g += 4
      }
      while (g < h) {
        val b0 = hit(g)
        val e0 = (b0 + 1) * m
        var s = 0.0
        var t = cur(b0)
        while (t < e0) { s += v(mem(t)); t += 1 }
        sxx(b0) += s
        g += 1
      }
      i += 1
    }
    val sT = rows.sT
    Array.tabulate(nb) { t =>
      val sxy = rx(t) - 2.0 * sxx(t)
      val syy = sT - rx(t) + sxx(t)
      math.sqrt(math.max(0.0, mmd2FromSums(sxx(t), syy, sxy, m, n2)))
    }
  }

  /** sxx(b_k) += Σ v(mem(t)) over t in [cur(b_k), (b_k + 1)·m) for four
    * permutations, each summed in ascending t into its own accumulator:
    * each chain first runs alone until the four have the same length left,
    * then the four advance together. */
  private def gather4(v: Array[Double], mem: Array[Int], sxx: Array[Double],
                      m: Int, cur: Array[Int], b0: Int, b1: Int, b2: Int,
                      b3: Int): Unit = {
    val e0 = (b0 + 1) * m; val e1 = (b1 + 1) * m
    val e2 = (b2 + 1) * m; val e3 = (b3 + 1) * m
    val len = math.min(math.min(e0 - cur(b0), e1 - cur(b1)),
      math.min(e2 - cur(b2), e3 - cur(b3)))
    val f0 = e0 - len; val f1 = e1 - len; val f2 = e2 - len; val f3 = e3 - len
    var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0
    var t = cur(b0)
    while (t < f0) { s0 += v(mem(t)); t += 1 }
    t = cur(b1)
    while (t < f1) { s1 += v(mem(t)); t += 1 }
    t = cur(b2)
    while (t < f2) { s2 += v(mem(t)); t += 1 }
    t = cur(b3)
    while (t < f3) { s3 += v(mem(t)); t += 1 }
    t = 0
    while (t < len) {
      s0 += v(mem(f0 + t))
      s1 += v(mem(f1 + t))
      s2 += v(mem(f2 + t))
      s3 += v(mem(f3 + t))
      t += 1
    }
    sxx(b0) += s0; sxx(b1) += s1; sxx(b2) += s2; sxx(b3) += s3
  }

  /** The kernel's strict upper triangle, one row at a time, over a
    * column-major copy of the pool. `next(i)` (rows in ascending order)
    * fills v(i + 1 until n) with k(pool_i, pool_j) rounded to float, adds
    * them to the running total sT, and returns R_i. Each squared distance
    * sums its coordinates in ascending order and each sum runs in ascending
    * j, exactly as [[rbf]] row by row, so every value is bit-identical to
    * it; the coordinate passes are element-wise loops the JIT vectorizes. */
  private final class KernelRows(pool: Array[Array[Double]], sigma: Double) {
    private val n = pool.length
    private val cols = Array.tabulate(if (n == 0) 0 else pool(0).length) { k =>
      Array.tabulate(n)(j => pool(j)(k))
    }
    private val twoSigma2 = 2.0 * sigma * sigma
    private val rowSum = new Array[Double](n)
    val v = new Array[Double](n)
    var sT = 0.0

    def next(i: Int): Double = {
      java.util.Arrays.fill(v, i + 1, n, 0.0)
      var k = 0
      while (k < cols.length) {
        val c = cols(k)
        val a = c(i)
        var j = i + 1
        while (j < n) { val d = a - c(j); v(j) += d * d; j += 1 }
        k += 1
      }
      var ri = rowSum(i) // complete: earlier rows already added theirs
      var s = sT
      var j = i + 1
      while (j < n) {
        val kv = math.exp(-v(j) / twoSigma2).toFloat.toDouble
        v(j) = kv
        ri += kv
        rowSum(j) += kv
        s += kv
        j += 1
      }
      sT = s
      ri
    }
  }

  /** Shuffle seed of permutation `permId` (1-based; 0 is the observed,
    * identity split) of a part's pool: each part draws its own stream, and
    * a permutation's seed does not depend on how the ids are chunked. */
  def permutationSeed(randomState: Long, part: Int, permId: Int): Long =
    (randomState * 1000003L + part) * 0x9E3779B97F4A7C15L + (permId - 1)

  /** One permutation's statistic: pool = ref ++ prod rows, shuffled with
    * [[permutationSeed]], re-split at the original sizes. Deterministic
    * regardless of task placement. */
  def permutedStat(pool: Array[Array[Double]], m: Int, sigma: Double,
                   randomState: Long, part: Int, permId: Int): Double = {
    val idx = StatMath.permutation(pool.length, permutationSeed(randomState, part, permId))
    val px = new Array[Array[Double]](m)
    val py = new Array[Array[Double]](pool.length - m)
    var i = 0
    while (i < m) { px(i) = pool(idx(i)); i += 1 }
    while (i < pool.length) { py(i - m) = pool(idx(i)); i += 1 }
    distance(px, py, sigma)
  }

  /** Full permutation test run locally, one explicit split per permutation
    * (used by DriftDemo and unit tests; the engine evaluates its
    * permutations with [[permutationStats]]). Permutations 1..P of `part`
    * are the engine's, so on the same samples the p-value is the engine's.
    * p = #{perm >= observed} / P — the plain proportion, matching the
    * reference's semantics (frouros PermutationTestDistanceBased with 100
    * perms trips verdicts at α=0.01 in ml/testing.py:183, which requires p
    * to reach below 1/(P+1); seed 31 per ml/training.py:535-537). */
  def permutationTest(x: Array[Array[Double]], y: Array[Array[Double]], sigma: Double,
                      numPermutations: Int = 100, randomState: Long = 31L,
                      part: Int = 0): (Double, Double) = {
    val obs = distance(x, y, sigma)
    val pool = x ++ y
    val ge = (1 to numPermutations).count { permId =>
      permutedStat(pool, x.length, sigma, randomState, part, permId) >= obs
    }
    (obs, ge.toDouble / numPermutations)
  }
}
