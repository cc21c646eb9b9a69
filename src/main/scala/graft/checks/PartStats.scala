package graft.checks

import org.apache.spark.SparkException
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.util.SizeEstimator
import graft.sketch.{KllOps, KllSketchAgg, LongHashSet}

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

  /** The fused aggregation frame behind [[digests]] (and dumped by
    * graft.tools.PlanDump).
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

  /** The fused scan's per-part digests, decoded where they live: one
    * (summary, bounded MMD sample) per part. Building the RDD runs the
    * scan's map stage once (under AQE at this call; otherwise in the first
    * job); every job over it re-reads that stage's shuffle output, so only
    * the final merge and this decode repeat, never the scan. ValidationRun
    * brings back just the summaries ([[summariesWithin]]) and fans the MMD
    * test out over the samples where they are; [[computeFused]] collects
    * both. */
  private[graft] def digests(docs: DataFrame, maxSample: Int, mode: Int,
                             mediaSet: Option[Broadcast[LongHashSet]],
                             edges: Seq[Double]): RDD[(PartSummary, Array[Array[Double]])] =
    fusedFrame(docs, maxSample, mode, mediaSet, edges).queryExecution.toRdd.map { r =>
      val p = r.getInt(0)
      val d = graft.sketch.DocStatsBuffer.decodeResult(r.getBinary(1))
      (PartSummary(p, d.nDocs, d.nSpans, -1L, d.nullKindSpans, d.kindHist,
        d.kllBytes, d.ordViolationDocs, d.nullKindDocs,
        d.danglingRefSpans, d.danglingRefDocs, d.offsetEdgeCounts), d.sample)
    }

  /** ONE-pass fused computation of per-partition summaries AND the bounded
    * MMD feature samples, via the custom [[graft.sketch.DocStatsAgg]]: no
    * explode, no second sampling scan, single groupBy(part) shuffle of
    * O(tasks × parts × bufferBytes). Collects every part's [[digests]] row,
    * samples included, to the driver. */
  def computeFused(docs: DataFrame, maxSample: Int = 1000,
                   mode: Int = graft.sketch.DocStatsAgg.ModeBoth,
                   mediaSet: Option[org.apache.spark.broadcast.Broadcast[graft.sketch.LongHashSet]] = None,
                   edges: Seq[Double] = Nil)
      : (Map[Int, PartSummary], Map[Int, Array[Array[Double]]]) = {
    val rows = digests(docs, maxSample, mode, mediaSet, edges).collect()
    (rows.map { case (s, _) => s.part -> s }.toMap,
      rows.map { case (s, sample) => s.part -> sample }.toMap)
  }

  /** The summaries of [[digests]], without their samples: each task sends
    * its parts' summaries (a few KB each) and their estimated heap size;
    * the driver adds the sizes up as tasks finish and fails the run once
    * they pass `budget` bytes, naming the batched entry point, instead of
    * holding an unbounded map. */
  private[graft] def summariesWithin(digests: RDD[(PartSummary, Array[Array[Double]])],
                                     budget: Long): Map[Int, PartSummary] = {
    var bytes = 0L
    var over: Throwable = null
    val kept = Map.newBuilder[Int, PartSummary]
    try digests.sparkContext.runJob(digests,
      (it: Iterator[(PartSummary, Array[Array[Double]])]) => {
        val s = it.map(_._1).toArray
        (SizeEstimator.estimate(s), s)
      }, (_: Int, res: (Long, Array[PartSummary])) => if (over == null) {
        bytes += res._1
        if (bytes > budget) {
          over = new IllegalStateException(s"the part summaries passed the " +
            s"driver budget of $budget B - validate the snapshot in batches " +
            "with ValidationRun.runResumable(limitParts = N)")
          throw over
        }
        res._2.foreach(s => kept += s.part -> s)
      })
    catch { case e: SparkException if over != null => throw over }
    kept.result()
  }

  /** Broadcast the (small) media catalog as a primitive hash-set of
    * xxhash64(media_ref) for the fused referential check (allocation-free
    * membership probes — see graft.sketch.LongHashSet for the collision
    * budget). The big-catalog path stays ConstraintChecks.referential's
    * shuffled anti-join, which is also the exact-audit path —
    * ValidationRun auto-selects between the two.
    *
    * FAIL-LOUD guard: a catalog of more than `maxEntries` refs is never
    * brought to the driver ([[mediaSetWithin]]); a forced broadcast of one
    * dies with its exact ref count instead of an OOM. */
  def broadcastMediaSet(media: DataFrame, maxEntries: Long = BroadcastMaxEntries)
      : Broadcast[LongHashSet] =
    mediaSetWithin(media, maxEntries) match {
      case Right(set) => set
      case Left(n) => throw new IllegalArgumentException(
        s"media catalog has $n refs > broadcast cap $maxEntries: the driver-" +
          "side broadcast set would risk an OOM. Use the shuffled anti-join " +
          "path (broadcastMedia = Some(false) on ValidationRun.run) or raise " +
          "the cap deliberately.")
    }

  /** Entry cap for [[broadcastMediaSet]] — shared with ValidationRun's AUTO
    * path selection so auto never picks a broadcast the cap then rejects. */
  val BroadcastMaxEntries: Long = 20L * 1000 * 1000

  /** The media set in ONE executor-side job: each task counts its catalog
    * rows and hashes their refs, shipping the hashes only while its own
    * count is within `maxEntries`; the driver keeps them only while the
    * running total is, too. So the driver holds at most about two caps of
    * longs (the kept hashes plus one arriving task's) and never a catalog
    * over the cap. Right(broadcast set) when the catalog has ≤ `maxEntries`
    * rows, else Left(its exact row count). Null refs are counted, not
    * hashed: they match no span. */
  def mediaSetWithin(media: DataFrame, maxEntries: Long)
      : Either[Long, Broadcast[LongHashSet]] = {
    val rows = media.select("media_ref").queryExecution.toRdd
    val cap = maxEntries
    var total = 0L
    val kept = scala.collection.mutable.ArrayBuffer.empty[Array[Long]]
    media.sparkSession.sparkContext.runJob(rows, (it: Iterator[InternalRow]) => {
      var n = 0L
      var hashes = new scala.collection.mutable.ArrayBuilder.ofLong
      while (it.hasNext) {
        val r = it.next()
        n += 1
        if (hashes != null) {
          if (n > cap) hashes = null
          else if (!r.isNullAt(0)) hashes += LongHashSet.hashUtf8(r.getUTF8String(0))
        }
      }
      (n, if (hashes == null) null else hashes.result())
    }, (_: Int, res: (Long, Array[Long])) => {
      total += res._1
      if (total <= cap) kept += res._2 else kept.clear()
    })
    if (total > cap) Left(total)
    else {
      val set = new LongHashSet(total.toInt)
      kept.foreach(_.foreach(set.add))
      Right(media.sparkSession.sparkContext.broadcast(set))
    }
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
