package graft.checks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.DocsGen
import graft.stats.Mmd

/** Fit the detector state on a reference window — the analog of the
  * reference's `fit_detector` (ml/training.py:116-148): σ = median pairwise
  * distance over the reference sample (lines 123-129), then store the
  * reference sample + distribution summaries; persisted like the pickled
  * detector (ml/training.py:445-460, loaded at detector_api/app/detector.py:38-42).
  */
object Fit {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** EXACT reference offset quantile grid — the determinism anchor of the
    * KS/PSI checks. One `groupBy(offset).count` over the reference window
    * (integer sums: parallelism/merge-order-invariant, unlike KLL
    * compaction), collected up to `maxDistinct` distinct values, then the
    * grid quantiles are read off the exact CDF with pure LONG arithmetic
    * (`cum × (grid−1) ≥ i × n` — no floating quantile boundary wobble).
    *
    * Returns (sorted distinct edge values, exact cumulative count ≤ edge).
    * Empty arrays when the offset domain exceeds `maxDistinct` (the engine
    * then falls back to the KLL CDF path with its documented sketch-error
    * band) — span offsets are int32 document positions, so real corpora sit
    * far under the default 1M cap. */
  def exactOffsetEdges(refDocs: DataFrame, gridSize: Int = 201,
                       maxDistinct: Int = 1 << 20): (Array[Double], Array[Long]) = {
    val spark = refDocs.sparkSession
    import spark.implicits._
    val rows = refDocs.select(explode(col("spans.offset")).as("off"))
      .groupBy($"off").agg(count(lit(1)).as("c"))
      .limit(maxDistinct + 1)
      .as[(Int, Long)].collect()
    if (rows.length > maxDistinct) {
      log.warn(s"exactOffsetEdges: > $maxDistinct distinct offsets - " +
        "falling back to the KLL CDF path (KS/PSI verdicts then carry the " +
        "documented sketch-error band instead of bit-exactness)")
      return (Array.empty, Array.empty)
    }
    if (rows.isEmpty) return (Array.empty, Array.empty)
    val sorted = rows.sortBy(_._1)
    val n = sorted.iterator.map(_._2).sum
    val cum = new Array[Long](sorted.length)
    var acc = 0L
    var i = 0
    while (i < sorted.length) { acc += sorted(i)._2; cum(i) = acc; i += 1 }
    // grid quantile q_i = i/(gridSize-1), i = 1..gridSize-1: edge = smallest
    // value v with cum(v)/n >= q_i, i.e. cum(v)*(gridSize-1) >= i*n in longs
    val g = (gridSize - 1).toLong
    val edgesB = Array.newBuilder[Double]
    val cumB = Array.newBuilder[Long]
    var lastIdx = -1
    var qi = 1
    var j = 0
    while (qi <= gridSize - 1) {
      while (j < sorted.length && cum(j) * g < qi * n) j += 1
      if (j < sorted.length && j != lastIdx) {
        edgesB += sorted(j)._1.toDouble
        cumB += cum(j)
        lastIdx = j
      }
      qi += 1
    }
    (edgesB.result(), cumB.result())
  }

  /** Fit on a reference window (all rows of `refDocs`). One fused stats +
    * bounded-sample pass and one exact offset-histogram pass (the
    * deterministic KS/PSI CDF grid). */
  def fit(refDocs: DataFrame, snapshotId: Long = 0L, maxSample: Int = 2000): RefState = {
    // same fused one-pass aggregate as the validation run — the reference
    // sample MUST be featurized identically to the production samples
    val (summaries, samples) = PartStats.computeFused(
      refDocs.withColumn("part", lit(0)), maxSample)
    val s = summaries(0)
    val sample = samples(0)
    val sigma = Mmd.medianHeuristicSigma(sample, maxRows = 2000)
    val (edges, cum) = exactOffsetEdges(refDocs)
    RefState(sigma, sample, s.offsetKll, s.kindHist, s.nDocs, s.nSpans,
      snapshotId, edges, cum)
  }

  /** Carve the reference window out of a table by seeded random split and
    * fit on it — the direct analog of the reference's
    * `torch.utils.data.random_split` with `detector_fraction = 0.1`
    * (ml/training.py:248-270, generator seeded with 31). Returns the fitted
    * state plus the remaining (non-window) rows. Deterministic for a fixed
    * input partitioning (Spark's randomSplit seeds per partition). */
  def fitSplit(docs: DataFrame, detectorFraction: Double = 0.1,
               seed: Long = DocsGen.Seed, snapshotId: Long = 0L,
               maxSample: Int = 2000): (RefState, DataFrame) = {
    require(detectorFraction > 0 && detectorFraction < 1)
    val Array(rest, window) =
      docs.randomSplit(Array(1.0 - detectorFraction, detectorFraction), seed)
    (fit(window, snapshotId, maxSample), rest)
  }

  /** Persist fitted state to a parquet `ref_state` table (FIXTURES.md §2). */
  def save(spark: SparkSession, state: RefState, path: String): Unit = {
    import spark.implicits._
    Seq((state.sigma, state.refSample.map(_.toSeq).toSeq, state.kllBytes,
      state.kindHist, state.nDocs, state.nSpans, state.snapshotId,
      state.offsetEdges.toSeq, state.refEdgeCum.toSeq))
      .toDF("sigma", "ref_sample", "kll_sketch", "kind_hist", "n_docs",
        "n_spans", "snapshot_id", "offset_edges", "ref_edge_cum")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  def load(spark: SparkSession, path: String): RefState = {
    val df = spark.read.parquet(path)
    // compat: state persisted before the exact-CDF grid lacks these columns
    val hasEdges = df.columns.contains("offset_edges")
    val r = df.head()
    RefState(
      offsetEdges =
        if (hasEdges) r.getAs[scala.collection.Seq[Double]]("offset_edges").toArray
        else Array.empty,
      refEdgeCum =
        if (hasEdges) r.getAs[scala.collection.Seq[Long]]("ref_edge_cum").toArray
        else Array.empty,
      sigma = r.getAs[Double]("sigma"),
      refSample = r.getAs[scala.collection.Seq[scala.collection.Seq[Double]]]("ref_sample")
        .map(_.toArray).toArray,
      kllBytes = r.getAs[Array[Byte]]("kll_sketch"),
      // compat: ref_state persisted by earlier builds used " NULL" as the
      // null-kind histogram sentinel; the sentinel is now "\u0000NULL"
      // (unforgeable — kind strings can contain a leading space). Normalize
      // on load so chi2 over legacy state keeps comparing the same category
      // instead of splitting nulls into two disjoint ones (spurious drift).
      kindHist = r.getAs[Map[String, Long]]("kind_hist").map {
        case (" NULL", n) => "\u0000NULL" -> n
        case kv => kv
      },
      nDocs = r.getAs[Long]("n_docs"),
      nSpans = r.getAs[Long]("n_spans"),
      snapshotId = r.getAs[Long]("snapshot_id"))
  }
}
