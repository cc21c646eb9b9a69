package graft.checks

import org.apache.spark.sql.SparkSession
import graft.sketch.KllOps
import graft.stats.{Mmd, StatMath}

/** Distribution-drift checks between the fitted reference window and each
  * production partition. All four share the reference's fit/compare/verdict
  * contract (detector_api/app/detector.py:44-69): statistic → p-value →
  * `is_drift = p_value <= alpha`.
  *
  * KS / χ² / PSI run on the per-partition SUMMARIES (KLL sketches, exact
  * category counts) produced by the single full-data stats pass — no second
  * scan of the table. MMD runs on the bounded per-partition samples with the
  * permutation test fanned out over `spark.range`, mirroring the reference's
  * multiprocessing permutation pool (ml/training.py:528-534) as Spark tasks.
  */
object DriftChecks {

  /** True when both sides carry the exact fixed-edge CDF structures — the
    * parallelism-invariant KS/PSI path. */
  private def exactCdf(ref: RefState, s: PartSummary): Boolean =
    ref.offsetEdges.nonEmpty && ref.refEdgeCum.nonEmpty &&
      s.offsetEdgeCounts.length == ref.offsetEdges.length + 1

  /** Exact production-side cumulative counts ≤ each reference edge (prefix
    * sums of the per-bin counts, overflow bin excluded) plus the total. */
  private def prodCum(s: PartSummary): (Array[Long], Long) = {
    val bins = s.offsetEdgeCounts
    val cum = new Array[Long](bins.length - 1)
    var acc = 0L
    var j = 0
    while (j < cum.length) { acc += bins(j); cum(j) = acc; j += 1 }
    (cum, acc + bins(bins.length - 1))
  }

  /** KS test on the offset distribution (E7).
    *
    * DEFAULT (deterministic) path: both CDFs are EXACT at the fitted
    * reference's fixed quantile grid — ref from the fit-time histogram
    * (RefState.refEdgeCum), production from the integer bin counts the
    * stats scan accumulated at the same edges (PartSummary
    * .offsetEdgeCounts). D = max |F_ref(e) − F_prod(e)| over the grid:
    * pure long-ratio arithmetic, bit-identical at any parallelism (the
    * determinism contract; grid resolution ~0.5 % of ref mass, comparable
    * to the KLL rank error it replaces). Falls back to the two-KLL-CDF
    * comparison when the fit ran without the exact grid; p via Kolmogorov
    * asymptotics on the exact (or sketch) row counts either way. */
  def ks(runId: String, alpha: Double, ref: RefState,
         summaries: Map[Int, PartSummary]): Seq[Verdict] =
    summaries.toSeq.sortBy(_._1).map { case (part, s) =>
      if (exactCdf(ref, s)) {
        val (cum, nProd) = prodCum(s)
        val nRef = ref.refEdgeCum(ref.refEdgeCum.length - 1)
        var d = 0.0
        var j = 0
        while (j < cum.length) {
          val diff = math.abs(ref.refEdgeCum(j).toDouble / nRef -
            (if (nProd == 0) 0.0 else cum(j).toDouble / nProd))
          if (diff > d) d = diff
          j += 1
        }
        // production mass beyond the reference maximum needs no extra term:
        // the grid's last edge is the ref max (q=1.0), where F_ref = 1
        // exactly and F_prod < 1 iff the overflow bin is populated
        val p = StatMath.ksPValue(d, nRef, nProd)
        Verdict.now(runId, part, "ks_offset", alpha, d, p, None,
          Map("n_ref" -> nRef.toDouble, "n_prod" -> nProd.toDouble,
            "exact_cdf" -> 1.0), ref.snapshotId)
      } else {
        val d = KllOps.ksD(ref.kllBytes, s.offsetKll)
        val p = StatMath.ksPValue(d, KllOps.n(ref.kllBytes), KllOps.n(s.offsetKll))
        Verdict.now(runId, part, "ks_offset", alpha, d, p, None,
          Map("n_ref" -> KllOps.n(ref.kllBytes).toDouble,
            "n_prod" -> KllOps.n(s.offsetKll).toDouble), ref.snapshotId)
      }
    }

  /** Chi-squared homogeneity test on the span-kind histogram (E8). Exact
    * counts from the stats pass; p via the regularized incomplete gamma. */
  def chi2(runId: String, alpha: Double, ref: RefState,
           summaries: Map[Int, PartSummary]): Seq[Verdict] = {
    val cats = (ref.kindHist.keySet ++ summaries.values.flatMap(_.kindHist.keySet)).toSeq.sorted
    val refCounts = cats.map(c => ref.kindHist.getOrElse(c, 0L)).toArray
    summaries.toSeq.sortBy(_._1).map { case (part, s) =>
      val prodCounts = cats.map(c => s.kindHist.getOrElse(c, 0L)).toArray
      val (stat, p) = StatMath.chi2TwoSample(refCounts, prodCounts)
      Verdict.now(runId, part, "chi2_kind", alpha, stat, p, None,
        cats.zip(prodCounts).map { case (c, n) => s"count_$c" -> n.toDouble }.toMap,
        ref.snapshotId)
    }
  }

  /** PSI on the offset distribution (E9): bucket edges = deciles of the
    * REFERENCE distribution. PSI has no p-value; standard practice gates
    * on the index itself (>0.2 = major shift), so we emit p = 1 - min(psi/0.2, 1)
    * purely to fit the verdict shape, and the distance carries the PSI.
    *
    * DEFAULT (deterministic) path: decile boundaries are selected from the
    * fitted reference's exact quantile grid with pure long arithmetic
    * (`refEdgeCum(j) × buckets ≥ i × nRef`), and both proportion vectors
    * come from exact integer bin counts (ref: RefState.refEdgeCum; prod:
    * the fixed-edge counts the stats scan accumulated) — bit-identical at
    * any parallelism. Falls back to the two-KLL-CDF read when the fit ran
    * without the exact grid. */
  def psi(runId: String, alpha: Double, ref: RefState,
          summaries: Map[Int, PartSummary], buckets: Int = 10): Seq[Verdict] = {
    val qs = Array.tabulate(buckets - 1)(i => (i + 1).toDouble / buckets)
    lazy val kllEdges = KllOps.quantiles(ref.kllBytes, qs)
    lazy val refCdf = KllOps.cdf(ref.kllBytes)
    def kllProps(cdf: Double => Double): Array[Double] = {
      val cum = kllEdges.map(cdf) :+ 1.0
      cum.zip(0.0 +: cum.dropRight(1)).map { case (hi, lo) => math.max(hi - lo, 0.0) }
    }
    lazy val kllRefProps = kllProps(refCdf)
    // exact-path decile boundaries: distinct grid indices j_i = smallest j
    // with refEdgeCum(j)*buckets >= i*nRef, i = 1..buckets-1 (collapsed
    // boundaries merge buckets on BOTH sides identically)
    lazy val (exactIdx, exactRefProps): (Array[Int], Array[Double]) = {
      val nRef = ref.refEdgeCum(ref.refEdgeCum.length - 1)
      val idxB = Array.newBuilder[Int]
      var last = -1
      var i = 1
      var j = 0
      while (i <= buckets - 1) {
        while (j < ref.refEdgeCum.length && ref.refEdgeCum(j) * buckets < i.toLong * nRef) j += 1
        if (j < ref.refEdgeCum.length && j != last) { idxB += j; last = j }
        i += 1
      }
      val idx = idxB.result()
      val cumSel = idx.map(ref.refEdgeCum) :+ nRef
      val props = cumSel.zip(0L +: cumSel.dropRight(1))
        .map { case (hi, lo) => (hi - lo).toDouble / nRef }
      (idx, props)
    }
    summaries.toSeq.sortBy(_._1).map { case (part, s) =>
      if (exactCdf(ref, s)) {
        val (cum, nProd) = prodCum(s)
        val cumSel = exactIdx.map(cum) :+ nProd
        val prodProps =
          if (nProd == 0) new Array[Double](cumSel.length)
          else cumSel.zip(0L +: cumSel.dropRight(1))
            .map { case (hi, lo) => (hi - lo).toDouble / nProd }
        val v = StatMath.psi(exactRefProps, prodProps)
        val pseudoP = 1.0 - math.min(v / 0.2, 1.0)
        Verdict.now(runId, part, "psi_offset", alpha, v, pseudoP, None,
          Map("psi" -> v, "buckets" -> buckets.toDouble, "exact_cdf" -> 1.0),
          ref.snapshotId)
      } else {
        val prodProps = kllProps(KllOps.cdf(s.offsetKll))
        val v = StatMath.psi(kllRefProps, prodProps)
        val pseudoP = 1.0 - math.min(v / 0.2, 1.0)
        Verdict.now(runId, part, "psi_offset", alpha, v, pseudoP, None,
          Map("psi" -> v, "buckets" -> buckets.toDouble), ref.snapshotId)
      }
    }
  }

  /** One chi² attribution row: how much one span-kind category contributed
    * to one partition's chi2_kind statistic. */
  case class KindAttribution(part: Int, kind: String, ref_n: Long,
                             prod_n: Long, e_prod: Double,
                             contribution: Double, share: Double)

  /** One PSI attribution row: one reference-decile bucket's contribution to
    * one partition's psi_offset index. `lo`/`hi` are the bucket's offset
    * bounds (±∞ at the ends; the last bucket absorbs overflow mass like the
    * PSI itself does). */
  case class BucketAttribution(part: Int, bucket: Int, lo: Double, hi: Double,
                               ref_prop: Double, prod_prop: Double,
                               contribution: Double, share: Double)

  /** Root-cause attribution for chi2_kind (E30): per (part, kind) the
    * category's contribution to the two-sample statistic — the row a
    * validation operator reads AFTER the verdict flags, to learn WHICH kind
    * moved. Same category universe, pooled expectation, and drop rule as
    * [[chi2]]; Σ contribution per part == the chi2_kind distance BIT FOR
    * BIT (spec-pinned law — both sum the same terms ascending). Parts where
    * the test is degenerate (chi2 returns (0,1)) emit no rows. Pure driver
    * arithmetic over the summaries the stats scan already produced —
    * O(parts × kinds), no jobs. */
  def chi2Attribution(ref: RefState,
                      summaries: Map[Int, PartSummary]): Seq[KindAttribution] = {
    val cats = (ref.kindHist.keySet ++ summaries.values.flatMap(_.kindHist.keySet)).toSeq.sorted
    val refCounts = cats.map(c => ref.kindHist.getOrElse(c, 0L)).toArray
    val nRef = refCounts.map(_.toDouble).sum
    summaries.toSeq.sortBy(_._1).flatMap { case (part, s) =>
      val prodCounts = cats.map(c => s.kindHist.getOrElse(c, 0L)).toArray
      StatMath.chi2Contributions(refCounts, prodCounts) match {
        case None => Seq.empty
        case Some(cs) =>
          val nProd = prodCounts.map(_.toDouble).sum
          val total = nRef + nProd
          var stat = 0.0
          cs.foreach(c => if (!c.isNaN) stat += c)
          cats.indices.collect {
            case i if !cs(i).isNaN =>
              val eProd = (refCounts(i) + prodCounts(i)) / total * nProd
              KindAttribution(part, cats(i), refCounts(i), prodCounts(i),
                eProd, cs(i), if (stat > 0) cs(i) / stat else 0.0)
          }
      }
    }
  }

  /** Root-cause attribution for psi_offset (E30): per (part, bucket) the
    * reference-decile bucket's (q−p)·ln(q/p) term — WHICH offset range
    * gained or lost mass. Same bucket construction as [[psi]] on both the
    * exact-grid and KLL-fallback paths; Σ contribution per part == the
    * psi_offset distance BIT FOR BIT (spec-pinned law). */
  def psiAttribution(ref: RefState, summaries: Map[Int, PartSummary],
                     buckets: Int = 10): Seq[BucketAttribution] = {
    val qs = Array.tabulate(buckets - 1)(i => (i + 1).toDouble / buckets)
    lazy val kllEdges = KllOps.quantiles(ref.kllBytes, qs)
    lazy val refCdf = KllOps.cdf(ref.kllBytes)
    def kllProps(cdf: Double => Double): Array[Double] = {
      val cum = kllEdges.map(cdf) :+ 1.0
      cum.zip(0.0 +: cum.dropRight(1)).map { case (hi, lo) => math.max(hi - lo, 0.0) }
    }
    lazy val kllRefProps = kllProps(refCdf)
    lazy val (exactIdx, exactRefProps): (Array[Int], Array[Double]) = {
      val nRef = ref.refEdgeCum(ref.refEdgeCum.length - 1)
      val idxB = Array.newBuilder[Int]
      var last = -1
      var i = 1
      var j = 0
      while (i <= buckets - 1) {
        while (j < ref.refEdgeCum.length && ref.refEdgeCum(j) * buckets < i.toLong * nRef) j += 1
        if (j < ref.refEdgeCum.length && j != last) { idxB += j; last = j }
        i += 1
      }
      val idx = idxB.result()
      val cumSel = idx.map(ref.refEdgeCum) :+ nRef
      val props = cumSel.zip(0L +: cumSel.dropRight(1))
        .map { case (hi, lo) => (hi - lo).toDouble / nRef }
      (idx, props)
    }
    def rows(part: Int, edges: Array[Double], refProps: Array[Double],
             prodProps: Array[Double]): Seq[BucketAttribution] = {
      val cs = StatMath.psiContributions(refProps, prodProps)
      var psi = 0.0
      cs.foreach(psi += _)
      cs.indices.map { i =>
        BucketAttribution(part, i,
          if (i == 0) Double.NegativeInfinity else edges(i - 1),
          if (i == cs.length - 1) Double.PositiveInfinity else edges(i),
          refProps(i), prodProps(i), cs(i),
          if (psi != 0.0) cs(i) / psi else 0.0)
      }
    }
    summaries.toSeq.sortBy(_._1).flatMap { case (part, s) =>
      if (exactCdf(ref, s)) {
        val (cum, nProd) = prodCum(s)
        val cumSel = exactIdx.map(cum) :+ nProd
        val prodProps =
          if (nProd == 0) new Array[Double](cumSel.length)
          else cumSel.zip(0L +: cumSel.dropRight(1))
            .map { case (hi, lo) => (hi - lo).toDouble / nProd }
        rows(part, exactIdx.map(ref.offsetEdges), exactRefProps, prodProps)
      } else {
        rows(part, kllEdges, kllRefProps, kllProps(KllOps.cdf(s.offsetKll)))
      }
    }
  }

  /** Wasserstein-1 (earth mover's) distance on the offset distribution — the
    * drift family's magnitude-sensitive member: KS reads the worst POINT gap
    * between CDFs, W1 integrates the gap over the value axis, so a small
    * shift of much mass and a large shift of little mass separate cleanly.
    *
    * DEFAULT (deterministic) path: both CDFs exact at the fitted reference's
    * fixed quantile grid (same integer bin counts as KS/PSI — bit-identical
    * at any parallelism); KLL fallback evaluates both sketch CDFs on the ref
    * quantile grid. The distance is GRID-CENSORED: production mass beyond
    * the reference maximum moves no earth (its fraction is emitted as the
    * `overflow_frac` metric so callers see what was censored). Like PSI,
    * W1 has no distribution-free p-value; the verdict gates on the
    * SPAN-NORMALIZED index (emd / grid span, unit-free in [0,1]) with
    * p = 1 − min(norm/0.1, 1): 10 % of the support span = full alarm. */
  def emd(runId: String, alpha: Double, ref: RefState,
          summaries: Map[Int, PartSummary]): Seq[Verdict] =
    summaries.toSeq.sortBy(_._1).map { case (part, s) =>
      if (exactCdf(ref, s)) {
        val (cum, nProd) = prodCum(s)
        val nRef = ref.refEdgeCum(ref.refEdgeCum.length - 1)
        val refCdf = ref.refEdgeCum.map(_.toDouble / nRef)
        val prodCdf = cum.map(c => if (nProd == 0) 0.0 else c.toDouble / nProd)
        val d = StatMath.emdFromCdfs(ref.offsetEdges, refCdf, prodCdf)
        val span = ref.offsetEdges.last - ref.offsetEdges.head
        val norm = if (span > 0) d / span else 0.0
        val overflow = if (nProd == 0) 0.0
          else s.offsetEdgeCounts.last.toDouble / nProd
        Verdict.now(runId, part, "emd_offset", alpha, d,
          1.0 - math.min(norm / 0.1, 1.0), None,
          Map("emd_norm" -> norm, "overflow_frac" -> overflow,
            "n_prod" -> nProd.toDouble, "exact_cdf" -> 1.0), ref.snapshotId)
      } else {
        val qs = Array.tabulate(201)(i => i.toDouble / 200)
        // an empty reference sketch yields NaN quantiles — drop them (the
        // distance then reads 0 over an empty grid instead of poisoning
        // the sort and the span arithmetic)
        val edges = KllOps.quantiles(ref.kllBytes, qs)
          .filter(d => !d.isNaN).distinct.sorted
        val refCdfF = KllOps.cdf(ref.kllBytes)
        val prodCdfF = KllOps.cdf(s.offsetKll)
        val d = StatMath.emdFromCdfs(edges, edges.map(refCdfF), edges.map(prodCdfF))
        val span = if (edges.nonEmpty) edges.last - edges.head else 0.0
        val norm = if (span > 0) d / span else 0.0
        Verdict.now(runId, part, "emd_offset", alpha, d,
          1.0 - math.min(norm / 0.1, 1.0), None,
          Map("emd_norm" -> norm, "n_prod" -> KllOps.n(s.offsetKll).toDouble),
          ref.snapshotId)
      }
    }

  /** Jensen–Shannon divergence (base 2) on the span-kind histogram — the
    * bounded, symmetric companion to χ² (E8): χ²'s statistic grows with n
    * at fixed effect size (every tiny shift is "significant" at 10^9 spans),
    * JSD measures the SIZE of the shift on a fixed [0,1] scale. Exact counts
    * from the stats pass, category universe = union of both sides (zero
    * cells are fine — JSD is finite on disjoint support, no eps flooring).
    * Same index-gate convention as PSI: p = 1 − min(jsd/0.1, 1). */
  def jsd(runId: String, alpha: Double, ref: RefState,
          summaries: Map[Int, PartSummary]): Seq[Verdict] = {
    val cats = (ref.kindHist.keySet ++ summaries.values.flatMap(_.kindHist.keySet)).toSeq.sorted
    val refCounts = cats.map(c => ref.kindHist.getOrElse(c, 0L)).toArray
    summaries.toSeq.sortBy(_._1).map { case (part, s) =>
      val prodCounts = cats.map(c => s.kindHist.getOrElse(c, 0L)).toArray
      val v = StatMath.jsd(refCounts, prodCounts)
      Verdict.now(runId, part, "jsd_kind", alpha, v,
        1.0 - math.min(v / 0.1, 1.0), None,
        Map("jsd_bits" -> v, "categories" -> cats.length.toDouble), ref.snapshotId)
    }
  }

  /** Novel/lost-category check (E33) on the span-kind histogram — the
    * NOVELTY alarm the pooled-expectation tests can mask: a category the
    * reference never saw is a schema-drift event in its own right even when
    * its mass is too small to move χ² or JSD at 10^9 spans (a 0.01 % novel
    * kind shifts χ² by ~nothing but means an upstream producer changed its
    * contract). Distance = fraction of the partition's non-null span mass
    * in categories ABSENT from the reference window; p = 1 when no novel
    * mass, 0 when any exists (novelty is existence-graded, not sampled —
    * a category either appeared or it didn't, so the verdict is a hard
    * alarm, not a test statistic). `lost_kinds` counts reference categories
    * with zero production mass (coverage loss — reported, not flagged: an
    * empty or narrow part is the volume check's job). Null kinds are
    * EXCLUDED on both sides (the `\u0000NULL` sentinel is the null_kind
    * constraint family's jurisdiction, not a category). Exact integer
    * counts from the stats pass ⇒ bit-invariant across parallelism; pure
    * driver arithmetic, zero extra jobs at any table size. */
  def novelKind(runId: String, alpha: Double, ref: RefState,
                summaries: Map[Int, PartSummary]): Seq[Verdict] = {
    val sentinel = "\u0000NULL"
    val refKinds = ref.kindHist.collect {
      case (k, n) if n > 0 && k != sentinel => k
    }.toSet
    summaries.toSeq.sortBy(_._1).map { case (part, s) =>
      val prod = s.kindHist.filter { case (k, n) => n > 0 && k != sentinel }
      val novel = prod.filter { case (k, _) => !refKinds.contains(k) }
      val lost = refKinds.count(k => !prod.contains(k))
      val nProd = prod.valuesIterator.sum
      val novelSpans = novel.valuesIterator.sum
      val frac = if (nProd == 0) 0.0 else novelSpans.toDouble / nProd
      Verdict.now(runId, part, "novel_kind", alpha, frac,
        if (novelSpans == 0) 1.0 else 0.0, None,
        Map("novel_kinds" -> novel.size.toDouble,
          "novel_spans" -> novelSpans.toDouble,
          "lost_kinds" -> lost.toDouble,
          "n_prod" -> nProd.toDouble), ref.snapshotId)
    }
  }

  /** E22: Pearson-correlation shift between two numeric columns across
    * windows — the STRUCTURAL drift the marginal tests cannot see (both
    * marginals can be unchanged while the joint distribution rotates;
    * corr is the cheapest joint statistic). One map-side-combinable
    * `corr` aggregate per window (O(windows) result rows, one exchange of
    * O(windows) scalars), each window's r compared against the reference
    * window's: (window, r, r_ref, delta, is_drift). Pearson r is
    * normalization-free (sample vs population factors cancel), so any
    * engine replays it bit-comparably at the rounding scale. Fails loud
    * if the reference window is absent. */
  def corrShift(df: org.apache.spark.sql.DataFrame, xCol: String, yCol: String,
                windowCol: String, refWindow: Any, threshold: Double = 0.1,
                scale: Int = 4): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    require(threshold > 0, s"corrShift: threshold must be > 0, got $threshold")
    // r = covar_pop / (σx·σy) — corr()'s own formula, but with the division
    // guarded: ANSI mode makes corr() THROW on a zero-variance window; here
    // it yields null, which the ref guard below rejects loudly and non-ref
    // windows simply drop (no correlation to compare)
    val x = col(xCol).cast("double")
    val y = col(yCol).cast("double")
    // ONE scan: collect the O(windows) aggregate rows once and finish on
    // the driver (re-filtering the lazy frame would re-run the full
    // aggregation for the ref lookup AND again for the caller's action)
    val rows = df.groupBy(col(windowCol))
      .agg(covar_pop(x, y).as("__cov"),
        (stddev_pop(x) * stddev_pop(y)).as("__den"))
      .select(col(windowCol),
        when(col("__den") === 0.0 || col("__den").isNull, lit(null))
          .otherwise(col("__cov") / col("__den")).as("__r"))
      .collect()
    val refRow = rows.find(r => r.get(0) == refWindow)
    require(refRow.exists(!_.isNullAt(1)),
      s"corrShift: reference window $refWindow has no correlation " +
        "(absent, single point, or zero variance)")
    val rRef = refRow.get.getDouble(1)
    def rnd(v: Double) =
      BigDecimal(v).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble
    val spark = df.sparkSession
    val winField = df.select(col(windowCol)).schema.fields.head
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      winField,
      org.apache.spark.sql.types.StructField("r", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("r_ref", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("delta", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("is_drift", org.apache.spark.sql.types.BooleanType)))
    val out = rows.toSeq
      .filter(r => r.get(0) != refWindow && !r.isNullAt(1))
      .map { r =>
        val delta = rnd(math.abs(r.getDouble(1) - rRef))
        org.apache.spark.sql.Row(r.get(0), rnd(r.getDouble(1)), rnd(rRef),
          delta, delta > threshold)
      }
    spark.createDataFrame(spark.sparkContext.parallelize(out, 1), outSchema)
  }

  /** E37: sliced chi² drift — the two-sample homogeneity test at the
    * (window × slice) grain, e.g. "did the category mix move per language
    * per day". The flagship checks finish their statistics on the driver
    * because their grain is O(partitions); at 10^6 slices × windows the
    * VERDICT SET is itself big data, so here the statistic computes AS a
    * DataFrame: one slim (window, slice, category) count exchange, the
    * per-slice reference joined back, the (window, slice)×category grid
    * completed relationally (zero-count cells matter to χ²), pooled-
    * expectation terms summed per (window, slice). Same universe/degenerate
    * rules as [[chi2]]/[[graft.stats.StatMath.chi2TwoSample]]: cells with
    * r+o=0 drop, a (window, slice) with <2 kept categories or an empty
    * side emits NO row (the attrib posture). The reference window compared
    * with itself reads 0 at the rounding grain (the pooled expectation
    * (r+o)/(n_ref+n_prod)·n_ref need not reproduce r to the last ulp in
    * floating point — gate the control window on the rounded stat, never
    * on `stat == 0`). Output: (window, slice, n_ref, n_prod,
    * dof, stat) — stat is a float sum, so cross-partitioning comparison is
    * at the rounding grain (callers round; the driver query rounds to 6).
    * P-values need the incomplete gamma (not expressible as built-in
    * columns); [[chi2SlicedVerdicts]] finishes them on the driver for
    * bounded output grains. */
  def chi2Sliced(df: org.apache.spark.sql.DataFrame, windowCol: String,
                 sliceCol: String, catCol: String,
                 refWindow: Any): (org.apache.spark.sql.DataFrame, () => Unit) = {
    import org.apache.spark.sql.functions._
    // the slim counts frame backs FOUR branches (wins/universe/ref/grid);
    // without the persist each branch re-scans the BASE table — O(keys)
    // memory buys a single full-data pass (the globalOrdinal pattern).
    // Call release() once the returned plan has been consumed.
    val counts = df
      .select(col(windowCol).as("w"), col(sliceCol).as("s"), col(catCol).as("k"))
      .groupBy("w", "s", "k").agg(count(lit(1)).as("o"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val release = () => { counts.unpersist(blocking = false); () }
    val wins = counts.select("w", "s").distinct()
    val universe = counts.select("s", "k").distinct()
    val ref = counts.filter(col("w") === lit(refWindow))
      .select(col("s"), col("k"), col("o").as("r"))
    val grid = wins.join(universe, "s")
      .join(counts, Seq("w", "s", "k"), "left").na.fill(0L, Seq("o"))
      .join(ref, Seq("s", "k"), "left").na.fill(0L, Seq("r"))
    val tot = grid.groupBy("w", "s").agg(
      sum("r").as("n_ref"), sum("o").as("n_prod"),
      sum(when(col("r") + col("o") > 0, 1).otherwise(0)).as("kept"))
    val out = grid.join(tot, Seq("w", "s"))
      .filter(col("r") + col("o") > 0 && col("kept") >= 2 &&
        col("n_ref") > 0 && col("n_prod") > 0)
      .withColumn("pooled",
        (col("r") + col("o")).cast("double") / (col("n_ref") + col("n_prod")))
      .withColumn("term",
        pow(col("r") - col("pooled") * col("n_ref"), 2) / (col("pooled") * col("n_ref")) +
          pow(col("o") - col("pooled") * col("n_prod"), 2) / (col("pooled") * col("n_prod")))
      .groupBy("w", "s")
      .agg(first("n_ref").as("n_ref"), first("n_prod").as("n_prod"),
        (first("kept") - 1).cast("int").as("dof"), sum("term").as("stat"))
      .withColumnRenamed("w", windowCol).withColumnRenamed("s", sliceCol)
    (out, release)
  }

  /** E38: sliced KS drift — [[chi2Sliced]]'s numeric twin at the
    * (window × slice) grain, computed fully relationally. Exact empirical
    * CDFs: one slim (window, slice, value) count exchange (persisted
    * managed, base scanned once), the per-(window,slice) grid completed
    * over the slice's value domain so both CDFs evaluate at every support
    * point, cumulative sums via a window PARTITIONED BY (window, slice) —
    * never a global sort — and D = max |F_ref − F_prod| per grain. EXACT
    * for discrete/bucketed domains (the engine posture since the exact-CDF
    * fit grid): continuous columns must be bucketed first
    * (`width_bucket`/KLL edges), or the value grid IS the data. The
    * reference window self-compares to exactly 0. Output: (window, slice,
    * n_ref, n_prod, ks_d); p-values (Kolmogorov asymptotics) finish on the
    * driver via [[ksSlicedVerdicts]] for bounded grains. */
  def ksSliced(df: org.apache.spark.sql.DataFrame, windowCol: String,
               sliceCol: String, valueCol: String,
               refWindow: Any): (org.apache.spark.sql.DataFrame, () => Unit) = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val counts = df
      .select(col(windowCol).as("w"), col(sliceCol).as("s"), col(valueCol).as("v"))
      .groupBy("w", "s", "v").agg(count(lit(1)).as("o"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val release = () => { counts.unpersist(blocking = false); () }
    val wins = counts.select("w", "s").distinct()
    val universe = counts.select("s", "v").distinct()
    val ref = counts.filter(col("w") === lit(refWindow))
      .select(col("s"), col("v"), col("o").as("r"))
    val grid = wins.join(universe, "s")
      .join(counts, Seq("w", "s", "v"), "left").na.fill(0L, Seq("o"))
      .join(ref, Seq("s", "v"), "left").na.fill(0L, Seq("r"))
    val cumW = Window.partitionBy("w", "s").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, 0)
    val totW = Window.partitionBy("w", "s")
    val out = grid
      .withColumn("cum_o", sum("o").over(cumW))
      .withColumn("cum_r", sum("r").over(cumW))
      .withColumn("n_prod", sum("o").over(totW))
      .withColumn("n_ref", sum("r").over(totW))
      .filter(col("n_ref") > 0 && col("n_prod") > 0)
      .withColumn("d",
        abs(col("cum_r").cast("double") / col("n_ref") -
          col("cum_o").cast("double") / col("n_prod")))
      .groupBy("w", "s")
      .agg(first("n_ref").as("n_ref"), first("n_prod").as("n_prod"),
        max("d").as("ks_d"))
      .withColumnRenamed("w", windowCol).withColumnRenamed("s", sliceCol)
    (out, release)
  }

  /** E41: sliced PSI — the index-graded numeric member of the relational
    * sliced-drift family (E37 χ² categorical significance, E38 KS numeric
    * significance, this = numeric EFFECT SIZE on the standard >0.2 scale).
    * Decile buckets per slice from the SLICE'S reference distribution with
    * pure integer arithmetic: each value's bucket = ceil(refCum·B / nRef)
    * over the completed value grid (clamped to [1, B] so production mass
    * below the reference minimum lands in the first bucket and overflow
    * mass in the last, E9's absorption rule) — deterministic, exact, and
    * replayable in SQL. Matches E9's boundary-selection construction
    * whenever decile boundaries are distinct (spec-asserted); on massively
    * tied distributions the two valid decile constructions may split ties
    * differently (documented). Same eps flooring as [[StatMath.psi]].
    * Output: (window, slice, n_ref, n_prod, psi); managed persist like its
    * siblings. */
  def psiSliced(df: org.apache.spark.sql.DataFrame, windowCol: String,
                sliceCol: String, valueCol: String, refWindow: Any,
                buckets: Int = 10, eps: Double = 1e-6)
      : (org.apache.spark.sql.DataFrame, () => Unit) = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    require(buckets >= 2, s"psiSliced: buckets must be >= 2, got $buckets")
    val counts = df
      .select(col(windowCol).as("w"), col(sliceCol).as("s"), col(valueCol).as("v"))
      .groupBy("w", "s", "v").agg(count(lit(1)).as("o"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val release = () => { counts.unpersist(blocking = false); () }
    val wins = counts.select("w", "s").distinct()
    val universe = counts.select("s", "v").distinct()
    val ref = counts.filter(col("w") === lit(refWindow))
      .select(col("s"), col("v"), col("o").as("r"))
    // per-slice reference CDF over the completed value grid → integer
    // bucket assignment per VALUE (shared by both sides)
    val cumW = Window.partitionBy("s").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, 0)
    val refGrid = universe.join(ref, Seq("s", "v"), "left").na.fill(0L, Seq("r"))
      .withColumn("ref_cum", sum("r").over(cumW))
      .withColumn("n_ref_slice", sum("r").over(Window.partitionBy("s")))
      // exact integer ceil: (cum·B − 1) div n + 1, clamped to [1, B] — the
      // E9 long-arithmetic discipline (a double division would wobble past
      // 2^53; the clamp also absorbs the trunc-vs-floor divergence at cum=0)
      .withColumn("bucket", least(greatest(
        expr(s"(ref_cum * $buckets - 1) DIV n_ref_slice + 1"),
        lit(1)), lit(buckets)))
      .select(col("s"), col("v"), col("bucket"))
    val grid = wins.join(universe, "s")
      .join(counts, Seq("w", "s", "v"), "left").na.fill(0L, Seq("o"))
      .join(ref, Seq("s", "v"), "left").na.fill(0L, Seq("r"))
      .join(refGrid, Seq("s", "v"))
    val byBucket = grid.groupBy("w", "s", "bucket")
      .agg(sum("r").as("rb"), sum("o").as("ob"))
    val tot = byBucket.groupBy("w", "s")
      .agg(sum("rb").as("n_ref"), sum("ob").as("n_prod"))
    val out = byBucket.join(tot, Seq("w", "s"))
      .filter(col("n_ref") > 0 && col("n_prod") > 0)
      .withColumn("p", greatest(col("rb").cast("double") / col("n_ref"), lit(eps)))
      .withColumn("q", greatest(col("ob").cast("double") / col("n_prod"), lit(eps)))
      .withColumn("term", (col("p") - col("q")) * log(col("p") / col("q")))
      .groupBy("w", "s")
      .agg(first("n_ref").as("n_ref"), first("n_prod").as("n_prod"),
        sum("term").as("psi"))
      .withColumnRenamed("w", windowCol).withColumnRenamed("s", sliceCol)
    (out, release)
  }

  /** Driver-finished verdict tier over [[ksSliced]]: p via Kolmogorov
    * asymptotics on the exact side counts; is_drift = p ≤ alpha. Same
    * bounded-grain contract as [[chi2SlicedVerdicts]]. */
  def ksSlicedVerdicts(df: org.apache.spark.sql.DataFrame, windowCol: String,
                       sliceCol: String, valueCol: String, refWindow: Any,
                       alpha: Double = 0.05): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    val (rel, release) = ksSliced(df, windowCol, sliceCol, valueCol, refWindow)
    val base = rel.schema
    val rows = try rel.collect().map { r =>
      val d = r.getAs[Double]("ks_d")
      val p = StatMath.ksPValue(d, r.getAs[Long]("n_ref"), r.getAs[Long]("n_prod"))
      org.apache.spark.sql.Row.fromSeq(r.toSeq ++ Seq(p, p <= alpha))
    } finally release()
    val schema = org.apache.spark.sql.types.StructType(base.fields ++ Seq(
      org.apache.spark.sql.types.StructField("p_value",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("is_drift",
        org.apache.spark.sql.types.BooleanType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), schema)
  }

  /** Driver-finished verdict tier over [[chi2Sliced]]: p via the regularized
    * incomplete gamma, is_drift = p ≤ alpha. Collects the O(windows×slices)
    * statistic rows — callers own the bound (filter on stat first when the
    * grain is huge; the relational tier is the any-scale surface). */
  def chi2SlicedVerdicts(df: org.apache.spark.sql.DataFrame, windowCol: String,
                         sliceCol: String, catCol: String, refWindow: Any,
                         alpha: Double = 0.05): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val spark = df.sparkSession
    val (rel, release) = chi2Sliced(df, windowCol, sliceCol, catCol, refWindow)
    val base = rel.schema
    val rows = try rel.collect().map { r =>
      val stat = r.getAs[Double]("stat")
      val dof = r.getAs[Int]("dof")
      val p = StatMath.chi2Sf(stat, dof)
      org.apache.spark.sql.Row.fromSeq(r.toSeq ++ Seq(p, p <= alpha))
    } finally release()
    val schema = org.apache.spark.sql.types.StructType(base.fields ++ Seq(
      org.apache.spark.sql.types.StructField("p_value",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("is_drift",
        org.apache.spark.sql.types.BooleanType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), schema)
  }

  /** The [[mmd]] permutation-count precondition, also checked at
    * `ValidationRun.run` entry so a bad config fails before any job. */
  def requirePermutations(numPermutations: Int): Unit =
    require(numPermutations >= 1, s"mmd: numPermutations must be >= 1, got " +
      s"$numPermutations (the p-value is the share of permutations whose " +
      "statistic reaches the observed one)")

  /** MMD + permutation test (E10) on bounded per-partition feature samples vs
    * the fitted reference sample — frouros MMD verbatim in semantics
    * (fit: ml/training.py:131-147; compare: detector_api/app/detector.py:58-60;
    * 100-permutation test seeded with random_state=31: ml/training.py:136-144).
    *
    * Distributed shape: the samples are broadcast and each part's
    * permutation ids 0..numPermutations (0 = the observed, identity split)
    * are cut into chunks of `permsPerTask`; each chunk is its own Spark
    * partition (one task), so the scheduler balances chunks across cores
    * rather than contiguous slices of them. A chunk's task evaluates the
    * observed split plus its chunk in one [[Mmd.permutationStats]] pass and
    * emits (part, observed, #perm-stats ≥ observed). The default chunk
    * holds the whole default test (observed + 100), so each part costs one
    * task and one kernel pass; smaller chunks spread a few parts over more
    * cores at one extra kernel pass per chunk. Permutation seeds derive
    * from (randomState, part, permId) ([[Mmd.permutationSeed]]), and the
    * observed statistic does not depend on its chunk, so p-values are
    * identical at any chunking and parallelism. Driver traffic is
    * O(chunks), never O(parts × permutations).
    * p = #{perm ≥ observed} / numPermutations — the plain proportion, as in
    * [[Mmd.permutationTest]].
    *
    * The samples reach the driver through the fused scan's collect, so the
    * driver holds parts × maxSample × 6 doubles of them (and broadcasts
    * them); past ~10³–10⁴ parts per call, validate in batches with
    * `ValidationRun.runResumable(limitParts = N)`.
    */
  def mmd(spark: SparkSession, runId: String, alpha: Double, ref: RefState,
          samples: Map[Int, Array[Array[Double]]],
          numPermutations: Int = 100, randomState: Long = 31L,
          permsPerTask: Int = 101): Seq[Verdict] = {
    requirePermutations(numPermutations)
    require(permsPerTask >= 1, s"mmd: permsPerTask must be >= 1, got $permsPerTask")
    val parts = samples.keys.toSeq.sorted
    val bc = spark.sparkContext.broadcast((ref.refSample, ref.sigma, samples))
    val perPart = numPermutations + 1 // permId 0 = observed (identity split)
    val chunks = for {
      part <- parts
      s <- 0 until perPart by permsPerTask
    } yield (part, s, math.min(s + permsPerTask, perPart))
    // one partition per chunk, so the scheduler balances chunks, not slices
    val partials = spark.sparkContext.parallelize(chunks, math.max(1, chunks.size))
      .mapPartitions { it =>
        val (refSample, sigma, prodSamples) = bc.value
        it.map { case (part, s, e) =>
          val (obs, ge) = observedAndExceedances(refSample ++ prodSamples(part),
            refSample.length, sigma, part, s, e, randomState)
          (part, obs, ge)
        }
      }
      .collect()
    bc.destroy()

    val byPart = partials.groupBy(_._1)
    parts.map { part =>
      val rows = byPart(part)
      val obs = rows.head._2
      val ge = rows.map(_._3).sum
      val p = ge.toDouble / numPermutations

      Verdict.now(runId, part, "mmd_features", alpha, obs, p, None,
        Map("sigma" -> ref.sigma, "n_ref" -> ref.refSample.length.toDouble,
          "n_prod" -> samples(part).length.toDouble,
          "permutations" -> numPermutations.toDouble), ref.snapshotId)
    }
  }

  /** The observed MMD of a part's pooled sample (identity split, first m
    * rows = reference) and how many of the permutations with ids in
    * [from, until) ∖ {0} reach it, in one [[Mmd.permutationStats]] pass.
    * Permutation `permId` shuffles the pool with
    * [[Mmd.permutationSeed]](randomState, part, permId), so each part draws
    * an independent stream and any chunking of the ids yields the same
    * counts. */
  private def observedAndExceedances(pool: Array[Array[Double]], m: Int,
                                     sigma: Double, part: Int, from: Int,
                                     until: Int, randomState: Long): (Double, Int) = {
    val perms = Array.tabulate(pool.length)(identity) +:
      (math.max(from, 1) until until).map { permId =>
        StatMath.permutation(pool.length, Mmd.permutationSeed(randomState, part, permId))
      }.toArray
    val stats = Mmd.permutationStats(pool, m, sigma, perms)
    val obs = stats(0)
    (obs, stats.iterator.drop(1).count(_ >= obs))
  }
}
