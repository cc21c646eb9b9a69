package graft.engine

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.checks._
import graft.sketch.DocStatsAgg.ModeBoth
import graft.model.DocsGen

/** Run configuration. α defaults to the reference's offline-eval value 0.01
  * (ml/testing.py:183); the API default there is 0.05 (schemas/drift.py:13). */
case class RunConfig(
    runId: String,
    alpha: Double = 0.01,
    numPermutations: Int = 100,
    randomState: Long = 31L,
    maxSample: Int = 2000,
    // 0 = single-shuffle uniqueness (default): A/B at 54M docs / 32 cores
    // measured the salted two-stage 1.6-2.1x slower wall and ~1.6x the CPU
    // (BASELINE.md round-2) — map-side partial agg already bounds hot-key
    // reducer input for count-like aggregates, so the explicit salt stage
    // bought a second full shuffle and nothing else. Salted variant stays
    // selectable (the E13 skew operator; right for non-combinable aggs).
    salts: Int = 0,
    // when set, each check's violation rows are written to
    // <sink>/src=<check>/ AS SOON AS that check's counts are known, from the
    // same driver threads that ran the check — the (potentially large)
    // violation materialization then overlaps the remaining check phases
    // instead of serializing after them. run() returns after all writes.
    // Layout: zstd parquet, rows rebalanced by part, so AQE sizes the files
    // to spark.sql.adaptive.advisoryPartitionSizeInBytes — one file per
    // check at small row counts, advisory-sized files at scale, a part's
    // rows kept together (skewed parts split). A clean check writes one
    // empty file that carries the Violation schema. Without AQE the
    // rebalance is a plain hash repartition by part into
    // spark.sql.shuffle.partitions files at most.
    violationsSink: Option[String] = None,
    // echo the bounded feature sample each MMD verdict consumed into its
    // Verdict.input_values — parity with the reference's
    // `return_input_values` (detector_api/app/schemas/drift.py:13,
    // app/api.py:41-42). Off by default: the echo multiplies verdict-row
    // width by the sample size.
    echoInputValues: Boolean = false,
    // referential-path AUTO-selection bound (E6): when run()'s
    // broadcastMedia is left None, the media catalog broadcasts only if its
    // plan-estimated size is at or below this; larger catalogs take the
    // shuffled anti-join (AQE-converted/split at runtime) — a billion-row
    // catalog can no longer OOM the driver by DEFAULT. 256 MB of estimated
    // scan bytes ≈ well under the 20M-entry cap the broadcast set
    // builder separately enforces (PartStats.mediaSetWithin).
    mediaBroadcastMaxBytes: Long = 256L << 20,
    // robust-fence width for the per-partition volume check (E27): a part
    // flags when |count − median| > volumeK · 1.4826 · MAD over the run's
    // partition counts. Driver arithmetic on counts the stats scan already
    // produced — no extra jobs at any table size.
    volumeK: Double = 3.5,
    // opt-in cross-field kind-consistency check (E43): one extra broadcast
    // join per run emitting `kind_mismatch` verdicts per part (agreement
    // between span.kind and the catalog's media_kind — the mislabeled-
    // modality defect the existence join passes). Off by default: the
    // flagship scenario's media catalog carries independent kinds, so the
    // check fires heavily there; enable for tables whose catalog kinds are
    // authoritative.
    kindConsistency: Boolean = false,
    // when set, the pass validates the snapshot's OBSERVED schema against
    // this declared leaf-path contract before anything scans: one
    // `schema_contract` verdict (part = -1, table grain) plus one violation
    // row per missing/unexpected/retyped path. Pure driver metadata —
    // O(columns) at any table size, no job. A broken contract does NOT
    // abort the pass (the verdict records it and the constraint checks
    // that can still run, run); callers wanting abort-on-mismatch assert
    // on the verdict.
    schemaContract: Option[Seq[graft.checks.SchemaCheck.FieldContract]] = None)

/** The full constraint+drift validation pass — the engine's flagship job.
  *
  * Orchestrates (per SURVEY.md §2b): column stats E2-E4, uniqueness E5,
  * referential E6, span-order/sequence E14, and the four drift checks E7-E10,
  * emitting the reference-shaped verdict rows (E11) and violation rows.
  * Pass structure over the big table (everything else runs on tiny
  * summaries); independent jobs are submitted concurrently:
  *   1. fused scan  — ONE DocStatsAgg pass (no explode) yields per-part
  *      digests: stats, the exact reference-grid offset CDF,
  *      span-order/null-kind counts, the bounded deterministic MMD sample,
  *      and dangling-ref counts probed against the broadcast media set
  *   2. uniqueness  — one doc_id key exchange feeding one map pass (zero
  *      exchanges on a doc_id-bucketed table)
  *   3. violation rows — pruned rescans of the dirty partitions only
  * Two jobs read the scan's digests where they live: one brings back the
  * summaries only, within a driver budget, and the permutation fan-out
  * (`DriftChecks.mmd`) runs on the samples without a table scan; the
  * samples reach the driver only for `echoInputValues`. A catalog too big
  * to broadcast moves referential off the scan into its own job
  * (probe-side broadcast or shuffled anti-join).
  */
object ValidationRun {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Small driver-side pool for submitting independent Spark jobs in
    * parallel (the executors do the work; these threads mostly wait). */
  private lazy val jobPool: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(8, r => {
        val t = new Thread(r, "graft-job-submit")
        t.setDaemon(true)
        t
      }))

  case class Results(verdicts: Dataset[Verdict], violations: Dataset[Violation],
                     summaries: Map[Int, PartSummary])

  /** Wall-clock of each phase of the MOST RECENT run (bench introspection). */
  val lastTimings: scala.collection.concurrent.TrieMap[String, Double] =
    scala.collection.concurrent.TrieMap.empty

  /** Set when the MOST RECENT runResumable had to plan its partition list by
    * scanning the table (no manifest) — observable twin of the scale warning
    * it logs, so tests can assert the loud path fired. */
  @volatile var plannedWithoutManifest: Boolean = false

  private def timed[T](phase: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    val dt = (System.nanoTime() - t0) / 1e9
    lastTimings.put(phase, dt)
    if (sys.env.contains("GRAFT_TIMING"))
      System.err.println(f"[graft-timing] $phase%-16s $dt%.3f s")
    r
  }

  /** The one writer of violation rows: every sink write of run() and the
    * appends of runIncremental/runResumable. A rebalance by `part` lets AQE
    * size the files to its advisory partition size — one file per check at
    * small row counts, advisory-sized files at scale, skewed parts split —
    * while each part's rows stay together, which is what zstd compresses
    * well. The table data's codec (SnapshotCatalog.commit) is zstd too. */
  private def writeViolations(rows: Dataset[_], mode: String, path: String): Unit =
    rows.hint("rebalance", col("part")).write.mode(mode)
      .option("compression", "zstd").parquet(path)

  /** Plan-estimated byte size of the media catalog's ref column — the
    * auto-selection signal for the referential path. For file sources this
    * is the (compression-adjusted) scan size from the logical plan's stats;
    * for in-memory relations it is the materialized size. Conservative
    * overestimates just mean a shuffled anti-join where a broadcast would
    * also have worked — the safe direction. */
  private[graft] def estimateCatalogBytes(media: DataFrame): BigInt =
    media.select("media_ref").queryExecution.optimizedPlan.stats.sizeInBytes

  /** `broadcastMedia = None` (default) AUTO-selects the referential path:
    * catalogs whose plan-estimated size ≤ cfg.mediaBroadcastMaxBytes take
    * the broadcast-set fused path, larger ones the shuffled anti-join —
    * so the unbounded driver collect behind the broadcast can no longer be
    * reached by default with a huge catalog. `Some(true)`/`Some(false)`
    * force a path; a forced broadcast still fails loud at the
    * broadcastMediaSet entry cap instead of OOMing. */
  def run(docs: DataFrame, media: DataFrame, ref: RefState, cfg: RunConfig,
          broadcastMedia: Option[Boolean] = None): Results =
    run(docs, media, ref, cfg, broadcastMedia, driverSummaryBudget(docs.sparkSession))

  /** The driver bytes a run's part summaries may take: half of
    * spark.driver.maxResultSize (unbounded when that is 0), the other half
    * left to the task metrics Spark counts against the same cap and to the
    * run's other collects. */
  private def driverSummaryBudget(spark: SparkSession): Long = {
    val cap = spark.sparkContext.getConf.getSizeAsBytes("spark.driver.maxResultSize", "1g")
    if (cap <= 0) Long.MaxValue else cap / 2
  }

  /** [[run]] with the summaries' driver budget given in bytes. */
  private[graft] def run(docs: DataFrame, media: DataFrame, ref: RefState, cfg: RunConfig,
                         broadcastMedia: Option[Boolean], summaryBudget: Long): Results = {
    // config preconditions fail before any job or sink write starts
    DriftChecks.requirePermutations(cfg.numPermutations)
    val spark = docs.sparkSession
    import spark.implicits._
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ValidationRun.jobPool

    // Independent check jobs are launched CONCURRENTLY from driver threads —
    // Spark's scheduler interleaves their tasks across all cores, so the
    // pass's wall-clock is the max of the scan-bound phases, not their sum.
    // (Sequential submission leaves cores idle in every job's tail.)

    // eager per-check violation writes (no-op without a sink); `ds` is
    // built on the write's own thread, off the path to the MMD fan-out. No
    // write starts before the part summaries are in, so a run that fails
    // its summary budget leaves the sink untouched
    val summariesIn = scala.concurrent.Promise[Unit]()
    val sinkWrites = new java.util.concurrent.ConcurrentLinkedQueue[Future[Unit]]()
    def sinkWrite(name: String, ds: => Dataset[Violation]): Unit =
      cfg.violationsSink.foreach { sink =>
        sinkWrites.add(summariesIn.future.map(_ => timed(s"write_viol_$name")(
          writeViolations(ds, "overwrite", s"$sink/src=$name"))))
      }

    // schema gate (E20): driver-metadata check, zero executor time —
    // genuinely computed BEFORE any check job is submitted (docs.schema is
    // already resolved), so an abort-on-mismatch caller can bail before
    // paying any scan. Sink write is unconditional like every other
    // check's, so a sink consumer can rely on src=schema existing
    // (empty = contract satisfied).
    val schemaGate = cfg.schemaContract.map(c =>
      SchemaCheck.verdictOf(cfg.runId, docs.schema, c, ref.snapshotId, cfg.alpha))
    schemaGate.foreach { case (_, viol) =>
      sinkWrite("schema", spark.createDataset(viol))
    }

    // 2. uniqueness (violations stay distributed). AUTO layout selection:
    // a doc_id-bucketed snapshot (BucketedTables) runs the zero-exchange
    // groupBy — the pass's critical-path shuffle disappears on tables that
    // paid it at ingest; any other layout takes the single-shuffle
    // hash-pair aggregation.
    val fUniq = Future(timed("uniqueness") {
      val r = ConstraintChecks.uniquenessAuto(docs, cfg.runId, cfg.salts)
      sinkWrite("unique", r._1)
      r
    })
    // referential path selection, after uniqueness is submitted (it needs
    // no catalog). AUTO broadcasts the catalog only when its plan estimate
    // is within cfg.mediaBroadcastMaxBytes AND the set-building job counts
    // at most BroadcastMaxEntries refs (a heavily compressed catalog can
    // pass the byte estimate with tens of millions of refs); otherwise it
    // takes the anti-join. A FORCED Some(true) fails loud at the cap.
    val mediaSet: Option[org.apache.spark.broadcast.Broadcast[graft.sketch.LongHashSet]] =
      broadcastMedia match {
        case Some(true) => Some(PartStats.broadcastMediaSet(media))
        case Some(false) => None
        case None =>
          val est = estimateCatalogBytes(media)
          if (est > BigInt(cfg.mediaBroadcastMaxBytes)) {
            log.info(s"referential path: catalog estimate $est B > " +
              s"${cfg.mediaBroadcastMaxBytes} B - selecting the shuffled anti-join")
            None
          } else PartStats.mediaSetWithin(media, PartStats.BroadcastMaxEntries) match {
            case Right(set) => Some(set)
            case Left(n) =>
              log.info(s"referential path: catalog has $n refs > entry cap " +
                s"${PartStats.BroadcastMaxEntries} - selecting the shuffled anti-join")
              None
          }
      }
    val useBroadcastMedia = mediaSet.isDefined

    // referential (E6). Three layouts, auto-laddered:
    //  - broadcastable catalog: dangling-ref COUNTING rides the fused scan
    //    (broadcast media set checked inside DocStatsAgg) — no separate pass
    //    over the table; violation ROWS are materialized afterwards from the
    //    dirty partitions only (partition-pruned probe of the same set,
    //    zero-cost on a clean table).
    //  - catalog too big to broadcast but the DOCS side is small (incremental
    //    runs over appended partitions vs a 10^9-row catalog): PROBE-SIDE
    //    broadcast — the referenced set broadcasts into one narrow catalog
    //    scan, the catalog never shuffles.
    //  - both sides big: shuffled anti-join (AQE converts/splits at runtime).
    val fRef = if (useBroadcastMedia) None else Some(Future(timed("referential") {
      val probeSide =
        docs.select("doc_id").queryExecution.optimizedPlan.stats.sizeInBytes <=
          BigInt(cfg.mediaBroadcastMaxBytes)
      val r = if (probeSide) {
        log.info("referential path: catalog over the broadcast bound but the " +
          "docs side is small - probe-side broadcast (catalog never shuffles)")
        ConstraintChecks.referentialProbeSide(docs, media, cfg.runId)
      } else ConstraintChecks.referential(docs, media, cfg.runId, broadcastMedia = false)
      sinkWrite("ref", r._1)
      r
    }))
    // opt-in E43: one join against the catalog (broadcast under the same
    // bound as the referential path), O(parts) counts back, row evidence to
    // the sink like every other constraint check
    val fKind = if (!cfg.kindConsistency) None else Some(Future(
      timed("kind_consistency") {
        val counts = ConstraintChecks.kindConsistency(docs, media, useBroadcastMedia)
          .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
        sinkWrite("kind", ConstraintChecks.kindConsistencyRows(docs, media, cfg.runId,
          useBroadcastMedia))
        counts
      }))

    // 1. ONE DocStatsAgg scan computes stats AND the MMD samples (ModeBoth,
    // no explode); only the summaries come back, and the MMD fan-out
    // (pure compute on the samples, where the scan left them) chains after
    // them. The fitted reference's exact CDF grid rides the scan
    // (fixed-edge integer bin counts) so the KS/PSI verdicts are
    // parallelism-invariant; empty when the fit ran without the grid (KLL
    // fallback)
    val refEdges: Seq[Double] = ref.offsetEdges.toSeq
    val (digests, summaries) = try timed("stats") {
      val d = PartStats.digests(docs, cfg.maxSample, ModeBoth, mediaSet, refEdges)
      (d, PartStats.summariesWithin(d, summaryBudget))
    } catch { case e: Throwable =>
      // the run fails here: no sink write starts, and its other jobs settle
      summariesIn.failure(e)
      (Seq(fUniq) ++ fRef ++ fKind).foreach(Await.ready(_, Duration.Inf))
      throw e
    }
    summariesIn.success(())
    val samples = digests.map { case (s, sample) => s.part -> sample }
    // violation rows of the stats-derived checks: lazy datasets over the
    // dirty partitions only (pruned rescans — no-ops on a clean table).
    // Their counts come from the scan; the Datasets are built where they
    // are consumed (a sink write's thread, or the no-sink union), so
    // planning them stays off the path to the MMD fan-out.
    // Referential rows come from the scan's counts ONLY when referential
    // rode it (the broadcast set exists — rows then share the COUNTING
    // scan's membership predicate: one codegen'd probe stage, no per-job
    // join build); otherwise the standalone fRef future owns them.
    val fusedRefCounts: Option[Map[Int, Long]] = mediaSet.map(_ => summaries.collect {
      case (p, s) if s.danglingRefSpans > 0 => p -> s.danglingRefSpans
    })
    lazy val fusedRefViol: Dataset[Violation] = fusedRefCounts match {
      case Some(counts) if counts.nonEmpty => ConstraintChecks.referentialRows(
        docs.filter($"part".isin(counts.keys.toSeq: _*)), media, cfg.runId, mediaSet)
      case _ => spark.emptyDataset[Violation]
    }
    // span-integrity counts come FREE from the stats pass; violation ROWS are
    // materialized from the dirty partitions only — partition pruning makes
    // this near-zero when the table is clean (the common case at scale)
    val intDirty = summaries.collect {
      case (p, s) if s.ordViolationDocs > 0 || s.nullKindDocs > 0 => p
    }.toSeq
    lazy val intViol: Dataset[Violation] =
      if (intDirty.isEmpty) spark.emptyDataset[Violation]
      else ConstraintChecks.spanIntegrityRows(docs.filter($"part".isin(intDirty: _*)), cfg.runId)
    // launch the stats-derived violation writes BEFORE the MMD fan-out so
    // the dirty-partition rescans overlap it (and the uniqueness tail).
    // src=ref is written here only on the fused path: an overwrite would
    // clobber the standalone path's rows
    if (fusedRefCounts.isDefined) sinkWrite("ref", fusedRefViol)
    sinkWrite("integrity", intViol)
    val parts = summaries.keys.toSeq.sorted
    val mmdVerdicts = timed("mmd_fanout")(DriftChecks.mmdOn(cfg.runId, cfg.alpha,
      ref, parts, samples, cfg.numPermutations, cfg.randomState))

    val (uniqViol, uniqStats) = Await.result(fUniq, Duration.Inf)
    // exactly one of the two referential paths ran
    val (refViol, refCounts) = fRef.map(Await.result(_, Duration.Inf))
      .getOrElse((fusedRefViol, fusedRefCounts.get))
    val uniqCounts = uniqStats.map { case (p, s) => p -> s.dupKeys }
    val ordCounts = summaries.collect { case (p, s) if s.ordViolationDocs > 0 => p -> s.ordViolationDocs }
    val nkCounts = summaries.collect { case (p, s) if s.nullKindDocs > 0 => p -> s.nullKindDocs }

    def constraintVerdicts(checkId: String, counts: Map[Int, Long]): Seq[Verdict] =
      parts.map { p =>
        val n = counts.getOrElse(p, 0L)
        Verdict.now(cfg.runId, p, checkId, cfg.alpha, n.toDouble, 1.0,
          Some(n == 0L), Map("violations" -> n.toDouble), ref.snapshotId)
      }

    val statsVerdicts = parts.map { p =>
      val s = summaries(p)
      Verdict.now(cfg.runId, p, "stats", cfg.alpha, 0.0, 1.0, Some(true), Map(
        "count" -> s.nDocs.toDouble,
        "n_spans" -> s.nSpans.toDouble,
        // exact distinct — free byproduct of the uniqueness shuffle (E3's
        // HLL path is available via PartStats.compute(includeHll = true))
        "distinct_doc_id" -> uniqStats.get(p).map(_.distinctKeys.toDouble).getOrElse(-1.0),
        "null_kind_rate" -> (if (s.nSpans == 0) 0.0 else s.nullKindSpans.toDouble / s.nSpans),
        "offset_p50" -> graft.sketch.KllOps.quantiles(s.offsetKll, Array(0.5))(0),
        "offset_p99" -> graft.sketch.KllOps.quantiles(s.offsetKll, Array(0.99))(0)),
        ref.snapshotId)
    }

    val verdicts: Seq[Verdict] =
      schemaGate.map(_._1).toSeq ++
      statsVerdicts ++
        constraintVerdicts("unique_doc_id", uniqCounts) ++
        constraintVerdicts("ref_media", refCounts) ++
        constraintVerdicts("span_order", ordCounts) ++
        constraintVerdicts("null_kind", nkCounts) ++
        fKind.map(f => constraintVerdicts("kind_mismatch",
          Await.result(f, Duration.Inf))).getOrElse(Seq.empty) ++
        // volume (E27): run-scoped robust fence over the per-part counts the
        // stats scan already produced — zero extra jobs, exact-integer
        // deterministic. Run-window semantics documented at
        // VolumeCheck.verdictsFromCounts (runIncremental recomputes across
        // the full snapshot window instead of carrying stale fences).
        VolumeCheck.verdictsFromCounts(cfg.runId, cfg.alpha,
          summaries.map { case (p, s) => p -> s.nDocs },
          ref.snapshotId, cfg.volumeK) ++
        DriftChecks.ks(cfg.runId, cfg.alpha, ref, summaries) ++
        DriftChecks.chi2(cfg.runId, cfg.alpha, ref, summaries) ++
        DriftChecks.psi(cfg.runId, cfg.alpha, ref, summaries) ++
        DriftChecks.emd(cfg.runId, cfg.alpha, ref, summaries) ++
        DriftChecks.jsd(cfg.runId, cfg.alpha, ref, summaries) ++
        // novel/lost-category (E33): existence-graded novelty alarm over the
        // same exact kind histograms — zero extra jobs, bit-invariant
        DriftChecks.novelKind(cfg.runId, cfg.alpha, ref, summaries) ++
        (if (!cfg.echoInputValues) mmdVerdicts
         else {
           val echoed = samples.collectAsMap()
           mmdVerdicts.map(v => v.copy(input_values =
             echoed.get(v.part).map(_.map(_.toSeq).toSeq)))
         })

    // with a sink, every branch is already written (await the overlapped
    // writes before returning so callers see complete output); without one,
    // hand back the lazy union for the caller's own single write job
    sinkWrites.forEach(f => Await.result(f, Duration.Inf))
    val violations =
      if (cfg.violationsSink.isDefined) spark.emptyDataset[Violation]
      else schemaGate.map(g => spark.createDataset(g._2))
        .getOrElse(spark.emptyDataset[Violation])
        .union(uniqViol).union(refViol).union(intViol)
        .union(if (cfg.kindConsistency)
          ConstraintChecks.kindConsistencyRows(docs, media, cfg.runId, useBroadcastMedia)
        else spark.emptyDataset[Violation])
    Results(spark.createDataset(verdicts), violations, summaries)
  }

  /** Resumable variant: skips partitions that already have verdicts for this
    * snapshot in the results table (checkpoint/resume, E12 — the analog of
    * the reference's persisted fitted state, detector_api/app/detector.py:38-42).
    * Appends results per run; a killed run resumes by rerunning with the same
    * paths. Returns the partitions actually validated this invocation. */
  case class IncrementalResult(newParts: Seq[Int], carriedParts: Seq[Int],
                               crossDupCounts: Map[Int, Long])

  /** INCREMENTAL snapshot validation (E12 × E5 at snapshot grain): validate
    * ONLY the partitions `toSnapshot`'s manifest added over `fromSnapshot`'s,
    * carry the unchanged partitions' verdicts forward with lineage, and
    * check the appended doc_ids against the base corpus — never rescanning
    * the base into a shuffle (ConstraintChecks.uniquenessCross broadcasts
    * the bounded new-key set into one narrow base scan by default).
    *
    * Partition-grain checks (stats, span integrity, referential, drift) are
    * pure functions of a partition's content + the fitted reference, and
    * SnapshotCatalog partitions are append-only — so a base partition's
    * verdict at `toSnapshot` IS its `fromSnapshot` verdict. The ONE
    * exception is the volume family (E27), whose fence depends on the whole
    * window's counts: when the window grows, volume rows are dropped from
    * both the carry and the inner run and recomputed across all toSnapshot
    * parts from the persisted stats counts (step 4 — driver arithmetic, no
    * rescan), landing identical to a full run's. Carried rows are
    * rewritten with `snapshot_id = toSnapshot` plus a
    * `validated_at_snapshot` metric recording the snapshot whose run
    * actually scanned the data; a chain of carries preserves the ORIGINAL
    * validation snapshot (the lineage contract: results tables always say
    * which run looked at the bytes).
    *
    * The within-new uniqueness check still runs via run(); cross-snapshot
    * collisions surface as `unique_doc_id_cross` verdicts attributed to the
    * NEW part. `ref.snapshotId` should be `toSnapshot` so the appended
    * rows key consistently. At 100 TB this turns per-snapshot validation
    * cost from O(corpus) to O(appended partitions) + one narrow base scan. */
  def runIncremental(spark: SparkSession, table: String, media: DataFrame,
                     ref: RefState, cfg: RunConfig,
                     resultsPath: String, violationsPath: String,
                     fromSnapshot: Long, toSnapshot: Long,
                     broadcastNew: Option[Boolean] = None): IncrementalResult = {
    import spark.implicits._
    val fromParts = SnapshotCatalog.readManifest(table, fromSnapshot).parts
    val toParts = SnapshotCatalog.readManifest(table, toSnapshot).parts
    val newParts = (toParts.toSet -- fromParts).toSeq.sorted
    val carried = fromParts.filter(toParts.toSet).sorted
    require(fromParts.forall(toParts.toSet),
      s"runIncremental: snapshot $toSnapshot dropped partitions " +
        s"${fromParts.filterNot(toParts.toSet).mkString(",")} present in " +
        s"$fromSnapshot - incremental carry-forward only holds for " +
        "append-only snapshot chains")
    // MOR guard (E44): a delete set committed between the two snapshots
    // changes ROWS inside carried parts without changing the part set —
    // the carried verdicts (stats, uniqueness, drift) would silently
    // describe rows the new snapshot no longer has. Carry-forward is only
    // sound when both snapshots see the same delete lists; otherwise run a
    // full pass (or materializeDeletes first, which makes the rewrite an
    // ordinary part-set change this method already refuses to carry).
    val fromDels = SnapshotCatalog.readManifest(table, fromSnapshot).deleteFiles
    val toDels = SnapshotCatalog.readManifest(table, toSnapshot).deleteFiles
    require(fromDels == toDels,
      s"runIncremental: MOR delete sets changed between $fromSnapshot " +
        s"(${fromDels.mkString(",")}) and $toSnapshot (${toDels.mkString(",")}) " +
        "- carried verdicts would describe deleted rows; run a full pass " +
        "over the affected snapshot (or materializeDeletes first)")
    require(ref.snapshotId == toSnapshot,
      s"runIncremental: ref.snapshotId=${ref.snapshotId} != toSnapshot=" +
        s"$toSnapshot - the new partitions' verdicts would key under the " +
        "wrong snapshot in the results table (fit or re-stamp the RefState " +
        "with the snapshot being validated)")

    // 1. full per-partition pass over the NEW partitions only
    val crossCounts: Map[Int, Long] = if (newParts.nonEmpty) {
      val newDocs = SnapshotCatalog.read(spark, table, toSnapshot, Some(newParts))
      val baseDocs = SnapshotCatalog.read(spark, table, fromSnapshot)
      val res = run(newDocs, media, ref, cfg.copy(violationsSink = None))
      // 2. cross-snapshot uniqueness: appended ids vs the base corpus
      val (xViol, xCounts) = timed("uniqueness_cross")(
        ConstraintChecks.uniquenessCross(newDocs, baseDocs, cfg.runId,
          broadcastNew, cfg.mediaBroadcastMaxBytes))
      val xVerdicts = newParts.map { p =>
        val n = xCounts.getOrElse(p, 0L)
        Verdict.now(cfg.runId, p, "unique_doc_id_cross", cfg.alpha, n.toDouble,
          1.0, Some(n == 0L),
          Map("violations" -> n.toDouble, "base_snapshot" -> fromSnapshot.toDouble),
          toSnapshot)
      }
      // volume (E27) is the ONE run-window-scoped family: the inner run()
      // fenced the NEW parts against each other, which is the wrong peer
      // group for the combined snapshot — drop those rows here and
      // recompute across ALL toSnapshot parts below (step 4), from counts
      // already persisted in stats verdicts (no rescan)
      res.verdicts.filter(_.check_id != "volume").toDF()
        .unionByName(spark.createDataset(xVerdicts).toDF())
        .write.mode("append").partitionBy("part").parquet(resultsPath)
      writeViolations(res.violations.toDF().unionByName(xViol.toDF()), "append",
        violationsPath)
      xCounts
    } else Map.empty

    // 3. carry forward the base partitions' verdicts with lineage. The
    // original validation snapshot survives a chain of carries: only rows
    // WITHOUT the marker get it stamped (they were scanned at fromSnapshot).
    if (carried.nonEmpty) {
      val prior =
        try spark.read.parquet(resultsPath)
          .filter($"snapshot_id" === fromSnapshot && $"part".isin(carried: _*))
        catch { case e: Throwable => throw new IllegalStateException(
          s"runIncremental: cannot read prior results at $resultsPath - " +
            s"carry-forward needs snapshot $fromSnapshot's verdicts (seed the " +
            "chain with a full run/runResumable first)", e) }
      // a silently partial carry would claim coverage the results table
      // doesn't have — verify every carried partition actually has verdicts
      val priorParts = prior.select("part").distinct().as[Int].collect().toSet
      val missing = carried.filterNot(priorParts)
      require(missing.isEmpty,
        s"runIncremental: snapshot $fromSnapshot's results cover no verdicts " +
          s"for carried partitions ${missing.mkString(",")} - refusing a " +
          "partial carry (validate those partitions first)")
      // when the window GREW, a carried volume row's fence (median/MAD over
      // fromSnapshot's parts) is stale for toSnapshot — drop it and
      // recompute below; with no new parts the window is unchanged and the
      // prior volume rows carry like every other family
      val carryable =
        if (newParts.nonEmpty) prior.filter($"check_id" =!= "volume") else prior
      carryable
        .withColumn("snapshot_id", lit(toSnapshot))
        .withColumn("metrics", map_concat(
          map_filter($"metrics", (k, _) => k =!= "validated_at_snapshot"),
          map(lit("validated_at_snapshot"),
            coalesce(element_at($"metrics", lit("validated_at_snapshot")),
              lit(fromSnapshot.toDouble)))))
        .write.mode("append").partitionBy("part").parquet(resultsPath)
    }

    // 4. table-grain volume (E27) across the FULL toSnapshot window: every
    // part's exact count is already persisted in its stats verdict (new
    // parts just written, carried parts re-stamped above), so the combined
    // fence is an O(parts) driver read + arithmetic — the no-rescan
    // property holds. Identical to what a full run at toSnapshot emits
    // (counts are pure per-part integers ⇒ same median/MAD).
    if (newParts.nonEmpty) {
      val counts = spark.read.parquet(resultsPath)
        .filter($"snapshot_id" === toSnapshot && $"check_id" === "stats")
        .select($"part", element_at($"metrics", lit("count")).as("n"))
        .as[(Int, Double)].collect()
        .map { case (p, n) => p -> n.toLong }.toMap
      val vol = VolumeCheck.verdictsFromCounts(cfg.runId, cfg.alpha, counts,
        toSnapshot, cfg.volumeK)
      spark.createDataset(vol).toDF()
        .write.mode("append").partitionBy("part").parquet(resultsPath)
    }
    IncrementalResult(newParts, carried, crossCounts)
  }

  def runResumable(spark: SparkSession, docs: DataFrame, media: DataFrame,
                   ref: RefState, cfg: RunConfig,
                   resultsPath: String, violationsPath: String,
                   limitParts: Option[Int] = None,
                   knownParts: Option[Seq[Int]] = None): Seq[Int] = {
    import spark.implicits._
    plannedWithoutManifest = false
    // partition list comes from the snapshot manifest when the caller has
    // one (knownParts) — `select(part).distinct` would scan the whole table
    // just to plan the run, unacceptable at 10^12 rows
    val allParts = knownParts.map(_.sorted).getOrElse {
      // LOUD: this fallback full-scans the table just to plan the run. Fine
      // for tests/small tables; at production scale callers must pass the
      // snapshot manifest's partition list (SnapshotCatalog tracks it).
      plannedWithoutManifest = true
      log.warn("runResumable: no knownParts manifest supplied - planning " +
        "partitions via a full select(part).distinct scan. Pass the snapshot " +
        "manifest partition list for large tables (10^12-row scans here are " +
        "unacceptable).")
      docs.select("part").distinct().as[Int].collect().sorted.toSeq
    }
    val done: Set[Int] =
      try spark.read.parquet(resultsPath)
        .filter($"snapshot_id" === ref.snapshotId && $"check_id" === "stats")
        .select("part").distinct().as[Int].collect().toSet
      catch { case _: Throwable => Set.empty }
    val todoAll = allParts.filterNot(done)
    val todo = limitParts.map(todoAll.take).getOrElse(todoAll)
    if (todo.isEmpty) return Seq.empty
    val subset = docs.filter($"part".isin(todo: _*))
    // the append-per-run layout below owns violation persistence; a caller's
    // violationsSink (overwrite-per-check semantics) would clobber earlier
    // resumed batches, so it is ignored here
    val res = run(subset, media, ref, cfg.copy(violationsSink = None))
    res.verdicts.write.mode("append").partitionBy("part").parquet(resultsPath)
    writeViolations(res.violations, "append", violationsPath)
    todo
  }
}
