package graft.checks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sketch.{KllOps, KllSketchAgg}

/** Per-partition summary statistics, computed in ONE scan + one shuffle.
  *
  * The aggregation runs at (part, kind) grain on the exploded spans —
  * map-side partial aggregation (HashAggregate/ObjectHashAggregate partial →
  * tiny shuffle → final) — then collapses to part grain by merging the
  * mergeable sketches (KLL for offsets, HLL for distinct doc_ids). The
  * shuffled state is O(parts × kinds × sketch), never O(rows): the property
  * that holds at 10^12 docs.
  *
  * Generalizes the reference's implicit batch-shape validation
  * (detector_api/app/schemas/drift.py:17-23) into real column stats: count,
  * null-rate, distinct (HLL), quantiles (KLL).
  */
case class PartSummary(
    part: Int,
    nDocs: Long,
    nSpans: Long,
    approxDistinctDocIds: Long,
    nullKindSpans: Long,
    kindHist: Map[String, Long],
    offsetKll: Array[Byte],
    ordViolationDocs: Long = 0L,
    nullKindDocs: Long = 0L,
    danglingRefSpans: Long = 0L,
    danglingRefDocs: Long = 0L,
    // exact offset counts per fixed reference-edge bin (RefState.offsetEdges;
    // length = edges + 1 overflow) — the deterministic CDF input of the
    // KS/PSI drift checks; empty when the scan ran without edges
    offsetEdgeCounts: Array[Long] = Array.empty)

object PartStats {

  /** The fused aggregation frame shared by [[computeFused]] and
    * [[computeFusedTree]] (and dumped by graft.tools.PlanDump).
    *
    * The field-array extractions (`spans.kind` / `spans.offset` /
    * `spans.media_ref`) and the sampling hash are PRE-PROJECTED below the
    * aggregate: a TypedImperativeAggregate evaluates its child expressions
    * INTERPRETED inside update() for every row, so leaving
    * GetArrayStructFields + xxhash64 as agg children paid an interpreted
    * walk per doc — as projected attributes they compile into the
    * whole-stage-codegen'd scan stage and the agg children become plain
    * ordinal reads (DocStatsAgg's BoundReference fast path). Nested-column
    * pruning is unaffected: the projection consumes exactly the same FIELD
    * arrays, so `spans.text` still never leaves parquet (plan-asserted in
    * plans/r06/stats_fused_after.txt). */
  private[graft] def fusedFrame(docs: DataFrame, maxSample: Int,
                   mode: Int,
                   mediaSet: Option[org.apache.spark.broadcast.Broadcast[graft.sketch.LongHashSet]],
                   edges: Seq[Double]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val base = docs.select(Seq($"part",
      col("spans.kind").as("__k"), col("spans.offset").as("__o"),
      pmod(xxhash64($"doc_id", lit("mmd-sample")), lit(1000000L)).as("__h")) ++
      mediaSet.map(_ => col("spans.media_ref").as("__m")).toSeq: _*)
    base.groupBy($"part")
      .agg(graft.sketch.DocStatsAgg.docStats(
        $"__k", $"__o", $"__h",
        maxSample, mode,
        mediaRefs = mediaSet.map(_ => $"__m"),
        mediaSet = mediaSet, edges = edges).as("st"))
  }

  /** ONE-pass fused computation of per-partition summaries AND the bounded
    * MMD feature samples, via the custom [[graft.sketch.DocStatsAgg]]: no
    * explode, no second sampling scan, single groupBy(part) shuffle of
    * O(tasks × parts × bufferBytes). The workhorse of the validation pass. */
  def computeFused(docs: DataFrame, maxSample: Int = 1000,
                   mode: Int = graft.sketch.DocStatsAgg.ModeBoth,
                   mediaSet: Option[org.apache.spark.broadcast.Broadcast[graft.sketch.LongHashSet]] = None,
                   edges: Seq[Double] = Nil)
      : (Map[Int, PartSummary], Map[Int, Array[Array[Double]]]) = {
    val rows = fusedFrame(docs, maxSample, mode, mediaSet, edges)
      .collect()
    val decoded = rows.map { r =>
      r.getInt(0) -> graft.sketch.DocStatsBuffer.decodeResult(r.getAs[Array[Byte]]("st"))
    }
    val summaries = decoded.map { case (p, d) =>
      p -> PartSummary(p, d.nDocs, d.nSpans, -1L, d.nullKindSpans, d.kindHist,
        d.kllBytes, d.ordViolationDocs, d.nullKindDocs,
        d.danglingRefSpans, d.danglingRefDocs, d.offsetEdgeCounts)
    }.toMap
    val samples = decoded.map { case (p, d) => p -> d.sample }.toMap
    (summaries, samples)
  }

  /** Two-level ("tree") variant of [[computeFused]] for snapshots with
    * 10⁴–10⁵ partitions in ONE call.
    *
    * [[computeFused]] collects one digest row per part in a single
    * `collect()`: at 10⁵ parts × up to ~0.5 MB/digest (KLL + histograms +
    * bounded sample) that is a single driver action materializing every
    * task-result block at once — it trips `spark.driver.maxResultSize`
    * (default 1g) long before heap, and briefly holds raw blocks AND decoded
    * maps (~2× footprint). This variant adds a second ObjectHashAggregate
    * stage that pre-merges the per-part digest rows into one row per PART
    * RANGE (`fanIn` parts each, `collect_list` of the stage-1 buffers — the
    * input to stage 2 is parts rows, tiny), then the driver consumes ranges
    * via `toLocalIterator`: one range (≤ fanIn × digest bytes) is fetched
    * and decoded at a time, so neither maxResultSize nor the collect's 2×
    * duplication applies. Stage 1 is the IDENTICAL aggregation, so results
    * equal [[computeFused]]'s exactly (PartStatsTreeSpec).
    *
    * The RETURNED maps still hold every part's summary+sample — that is what
    * the caller asked for; for runs where even the decoded result exceeds
    * driver memory, combine with a smaller `maxSample` or the batched
    * `runResumable(limitParts=N)` invocation pattern (SURVEY.md §8b). */
  def computeFusedTree(docs: DataFrame, maxSample: Int = 1000,
                       mode: Int = graft.sketch.DocStatsAgg.ModeBoth,
                       mediaSet: Option[org.apache.spark.broadcast.Broadcast[graft.sketch.LongHashSet]] = None,
                       fanIn: Int = 64, fetchPartitions: Int = 0,
                       edges: Seq[Double] = Nil)
      : (Map[Int, PartSummary], Map[Int, Array[Array[Double]]]) = {
    require(fanIn >= 1 && fetchPartitions >= 0)
    val spark = docs.sparkSession
    import spark.implicits._
    // fetchPartitions = 0 (auto) → the session shuffle width: toLocalIterator
    // runs ONE job per partition, so a large fixed width would schedule
    // hundreds of near-empty sequential mini-jobs on small runs. Per-fetch
    // driver bytes ≈ parts/width × digest — at the default widths that is
    // well under driver.maxResultSize through ~10⁵ parts; extreme-scale
    // callers size it explicitly (width ≈ parts × digestBytes / 200 MB).
    val fetchWidth =
      if (fetchPartitions > 0) fetchPartitions
      else math.max(spark.sessionState.conf.numShufflePartitions, 1)
    val stage1 = fusedFrame(docs, maxSample, mode, mediaSet, edges)
    // toLocalIterator fetches one whole shuffle PARTITION per job, not one
    // row — so the driver-residency bound is set by the stage-2 partition
    // width, not by fanIn alone (at the default shuffle width a 10⁵-part
    // run would still fetch GBs per job). The explicit repartition by range
    // key REPLACES the groupBy's own exchange (same data volume, chosen
    // width: Catalyst sees the distribution already satisfied) and bounds
    // each fetch to ≈ parts/fetchPartitions digests — e.g. 10⁵ parts / 256
    // ≈ 390 × 0.5 MB ≈ 0.2 GB per job, under the default
    // driver.maxResultSize.
    val ranged = stage1
      .withColumn("rng", floor($"part" / fanIn).cast("int"))
      .repartition(fetchWidth, $"rng")
      .groupBy($"rng")
      .agg(collect_list(struct($"part", $"st")).as("digests"))
    val sumB = Map.newBuilder[Int, PartSummary]
    val samB = Map.newBuilder[Int, Array[Array[Double]]]
    val it = ranged.toLocalIterator()
    while (it.hasNext) {
      val row = it.next()
      row.getSeq[org.apache.spark.sql.Row](row.fieldIndex("digests")).foreach { r =>
        val p = r.getInt(0)
        val d = graft.sketch.DocStatsBuffer.decodeResult(r.getAs[Array[Byte]](1))
        sumB += p -> PartSummary(p, d.nDocs, d.nSpans, -1L, d.nullKindSpans,
          d.kindHist, d.kllBytes, d.ordViolationDocs, d.nullKindDocs,
          d.danglingRefSpans, d.danglingRefDocs, d.offsetEdgeCounts)
        samB += p -> d.sample
      }
    }
    (sumB.result(), samB.result())
  }

  /** Broadcast the (small) media catalog as a primitive hash-set of
    * xxhash64(media_ref) for the fused referential check (allocation-free
    * membership probes — see graft.sketch.LongHashSet for the collision
    * budget). The big-catalog path stays ConstraintChecks.referential's
    * shuffled anti-join, which is also the exact-audit path —
    * ValidationRun auto-selects between the two on a size estimate.
    *
    * FAIL-LOUD guard: the driver collect below is bounded by `maxEntries`
    * (checked with a cheap count FIRST — metadata-only on parquet), so a
    * forced broadcast of a catalog that cannot fit driver memory dies with
    * an actionable message instead of an OOM mid-collect. `knownCount`: the
    * catalog's entry count when the caller already took it (the cap is
    * still checked against it; only the second count job is skipped). */
  /** Entry cap for [[broadcastMediaSet]] — shared with ValidationRun's AUTO
    * path selection so auto never picks a broadcast the cap then rejects. */
  val BroadcastMaxEntries: Long = 20L * 1000 * 1000

  def broadcastMediaSet(media: DataFrame, maxEntries: Long = BroadcastMaxEntries,
                        knownCount: Option[Long] = None)
      : org.apache.spark.broadcast.Broadcast[graft.sketch.LongHashSet] = {
    val cat = media.select("media_ref")
    val n = knownCount.getOrElse(cat.count())
    require(n <= maxEntries,
      s"media catalog has $n refs > broadcast cap $maxEntries: the driver-" +
        "collect broadcast set would risk an OOM. Use the shuffled anti-join " +
        "path (broadcastMedia = Some(false) on ValidationRun.run) or raise " +
        "the cap deliberately.")
    val refs = cat.collect()
    val set = new graft.sketch.LongHashSet(refs.length)
    refs.foreach(r => set.add(graft.sketch.LongHashSet.hashUtf8(
      org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(0)))))
    media.sparkSession.sparkContext.broadcast(set)
  }

  /** Compute per-partition summaries. `docs` must have (doc_id, spans, part).
    *
    * `includeHll` adds an HLL distinct-doc_id sketch to the same pass (E3).
    * The full validation run leaves it OFF: the uniqueness check's exact
    * per-key shuffle already yields exact distinct counts as a byproduct, so
    * hashing every span's doc_id into an HLL would be pure waste. Standalone
    * stats-only runs (no uniqueness check) turn it on. */
  def compute(docs: DataFrame, includeHll: Boolean = false): Map[Int, PartSummary] = {
    val spark = docs.sparkSession
    import spark.implicits._

    val aggs = Seq(
      sum(when($"pos" === 0, 1L).otherwise(0L)).as("doc_count"), // one pos-0 span per doc
      KllSketchAgg.kllSketch($"offset").as("kll")) ++
      (if (includeHll) Seq(hll_sketch_agg($"doc_id").as("hll")) else Nil)
    val grouped = docs
      .select($"part", $"doc_id", posexplode($"spans").as(Seq("pos", "s")))
      .select($"part", $"doc_id", $"pos",
        $"s.kind".as("kind"), $"s.offset".cast("double").as("offset"))
      .groupBy($"part", $"kind")
      .agg(count(lit(1)).as("span_count"), aggs: _*)

    // Second stage: collapse (part, kind) → part. The input here is
    // parts × kinds rows — tiny — so union the HLLs with hll_union_agg and
    // merge KLLs driver-side.
    val partLevel = grouped
      .groupBy($"part")
      .agg(
        sum($"span_count").as("n_spans"),
        sum($"doc_count").as("n_docs"),
        sum(when($"kind".isNull, $"span_count").otherwise(0L)).as("null_kind_spans"),
        (if (includeHll) hll_sketch_estimate(hll_union_agg($"hll"))
         else lit(-1L)).as("approx_distinct"),
        collect_list(struct($"kind", $"span_count", $"kll")).as("per_kind"))

    partLevel.collect().map { r =>
      val part = r.getInt(0)
      val perKind = r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("per_kind"))
      val hist = perKind.map(k =>
        Option(k.getString(0)).getOrElse("\u0000NULL") -> k.getLong(1)).toMap
      // merge the per-kind KLL sketches into one offset sketch for the part
      val merged = org.apache.datasketches.kll.KllDoublesSketch.newHeapInstance(200)
      perKind.foreach(k => merged.merge(KllOps.fromBytes(k.getAs[Array[Byte]](2))))
      part -> PartSummary(part, r.getLong(r.fieldIndex("n_docs")),
        r.getLong(r.fieldIndex("n_spans")),
        r.getLong(r.fieldIndex("approx_distinct")),
        r.getLong(r.fieldIndex("null_kind_spans")), hist, merged.toByteArray)
    }.toMap
  }
}
