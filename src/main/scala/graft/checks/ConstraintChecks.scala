package graft.checks

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Constraint checks over the docs table. Each emits distributed violation
  * rows (never collected in full) plus per-partition violation counts for the
  * verdicts. Violation rows generalize the reference's boolean per-batch
  * verdict (detector_api/app/detector.py:62-69) into row-level evidence.
  */
object ConstraintChecks {

  /** Per-part byproducts of the uniqueness shuffle: exact distinct keys and
    * total docs come for free once doc_ids are grouped — no separate
    * HLL/count pass needed when this check runs. */
  case class UniquenessStats(dupKeys: Long, distinctKeys: Long, totalDocs: Long)

  /** Uniqueness of doc_id (E5) via explicit two-stage salted aggregation
    * ("salted repartition + hash-dedup"):
    *
    *  - keys are a 128-bit hash pair of doc_id, NOT the string: the shuffle
    *    rows are fixed-width (faster UnsafeRow hash-agg, ~half the shuffle
    *    bytes of variable-length ids). Collision odds at 10^12 docs are
    *    ~n²/2^129 ≈ 1.5e-15 — smaller than a memory bit-flip; counts are
    *    exact modulo that.
    *  - the stage-1 salt derives from the MAP PARTITION, not the key, so a
    *    pathologically hot doc_id's copies really do land on `salts`
    *    different reducers (a key-derived salt would re-collide them); stage
    *    2 sums the salted partials per key. AQE skew handling backs this up.
    *  - violation ROWS (which need the actual doc_id strings) are recovered
    *    by a join against the duplicate keys ONLY when duplicates exist —
    *    a clean table pays exactly one scan + shuffle and never rereads ids.
    *
    * `keyCols` (default `doc_id`) generalizes the check to ANY business
    * key, including composite ones — each key column is null-sentineled
    * and string-normalized before hashing so (a, NULL) and (NULL, a) are
    * DISTINCT keys (a bare variadic hash would fold them together: Spark's
    * xxhash64 skips null inputs), while the single-column string default
    * hashes exactly the bytes it always did.
    *
    * Returns (violations, per-part {dupKeys, distinctKeys, totalDocs}). */
  def uniqueness(docs: DataFrame, runId: String, salts: Int = 0,
                 keyCols: Seq[String] = Seq("doc_id")): (Dataset[Violation], Map[Int, UniquenessStats]) = {
    require(keyCols.nonEmpty, "uniqueness: at least one key column required")
    require(keyCols.forall(docs.columns.contains),
      s"uniqueness: key columns ${keyCols.mkString(",")} must exist in " +
        docs.columns.mkString(","))
    // salts = 0 (default) selects the SINGLE-exchange one-map-pass
    // aggregation ([[uniquenessSinglePass]]); salts > 0 keeps the salted
    // two-stage stacked-groupBy formulation selectable (the E13 skew
    // operator; right for aggregates that don't combine map-side).
    if (salts <= 0) uniquenessSinglePass(docs, runId, keyCols)
    else uniquenessStacked(docs, runId, salts, keyCols)
  }

  /** The pre-round-6 stacked-groupBy formulation (partial+final hash
    * aggregation at key grain, then a part-grain rollup exchange); still the
    * engine's shape for `salts > 0` (E13) and the equality reference —
    * outputs are identical to [[uniquenessSinglePass]] (spec-asserted). */
  private[graft] def uniquenessStacked(docs: DataFrame, runId: String, salts: Int = 0,
                 keyCols: Seq[String] = Seq("doc_id")): (Dataset[Violation], Map[Int, UniquenessStats]) = {
    val spark = docs.sparkSession
    import spark.implicits._
    val checkId =
      if (keyCols == Seq("doc_id")) "unique_doc_id"
      else s"unique_${keyCols.mkString("_")}"
    // null-sentineled string form of each key column (identity for the
    // non-null string doc_id default)
    def normKeys: Seq[Column] =
      keyCols.map(c => coalesce(col(c).cast("string"), lit("\u0000NULL")))
    // display form for violation rows: one column verbatim, composites
    // joined on \u0001 (never appears in real ids)
    def keyDisplay: Column =
      if (keyCols.size == 1) col(keyCols.head).cast("string")
      else concat_ws("\u0001", normKeys: _*)
    // salts = 0 (default) selects a SINGLE-shuffle aggregation: for
    // count-like aggs, Spark's map-side partial aggregation already bounds
    // any hot key's reducer input by the map-task count, so the explicit
    // salt stage buys nothing but a second full shuffle — confirmed by A/B
    // at 54M docs / 32 cores (BASELINE.md round-2: two-stage 1.6-2.1x
    // slower). salts > 0 keeps the salted two-stage selectable (the E13
    // skew operator; right for aggregates that don't combine map-side).
    val keyed = docs.select($"part",
      xxhash64(normKeys :+ lit("u1"): _*).as("h1"),
      xxhash64(normKeys :+ lit("u2"): _*).as("h2"))
    // maxp rides along so the dup-recovery rescan can prune to the part
    // range actually containing duplicates (a key's copies all lie within
    // [its min part, its max part])
    val perKey = if (salts <= 0) keyed
        .groupBy($"h1", $"h2")
        .agg(count(lit(1)).as("n"), min($"part").as("part"), max($"part").as("maxp"))
      else keyed
        .withColumn("salt", pmod(spark_partition_id().cast("long"), lit(salts.toLong)))
        .groupBy($"h1", $"h2", $"salt")
        .agg(count(lit(1)).as("c"), min($"part").as("part"), max($"part").as("mx"))
        .groupBy($"h1", $"h2")
        .agg(sum($"c").as("n"), min($"part").as("part"), max($"mx").as("maxp"))
    // ONE consumer of the hash-grain stream — no 10^12-key persist. The
    // dirty-part RANGE (min part / max maxp over dup keys) rides the same
    // aggregation, so dup recovery needs no second look at perKey either.
    val perPartRows = perKey.groupBy($"part")
      .agg(sum(when($"n" > 1, 1L).otherwise(0L)).as("dups"),
        count(lit(1)).as("distinct"), sum($"n").as("total"),
        max(when($"n" > 1, $"maxp")).as("max_dup_part"))
      .collect()
    val perPart = perPartRows
      .map(r => r.getInt(0) -> UniquenessStats(r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val violations: Dataset[Violation] =
      if (!perPart.values.exists(_.dupKeys > 0)) spark.emptyDataset[Violation]
      else {
        // Recover doc_id strings from a rescan PRUNED to the part range that
        // holds duplicates. All copies of every dup key lie inside the range
        // (by construction of part/maxp), so in-range counts equal the keys'
        // global counts — no retained state from the full key stream, and a
        // clean table never runs this. Dup keys re-aggregate with the SAME
        // salted two-stage shape (skew-safe for a pathologically hot id),
        // then a key join attributes rows — AQE can skew-split or
        // broadcast-convert a join at runtime, which a window over (h1,h2)
        // cannot. Lazy: evaluated with the caller's violations write job.
        val loP = perPartRows.collect { case r if r.getLong(1) > 0 => r.getInt(0) }.min
        val hiP = perPartRows.collect { case r if !r.isNullAt(4) => r.getInt(4) }.max
        val ranged = docs.filter($"part".between(loP, hiP))
          .select($"part", keyDisplay.as("__key"),
            xxhash64(normKeys :+ lit("u1"): _*).as("h1"),
            xxhash64(normKeys :+ lit("u2"): _*).as("h2"))
        val dupKeys = (if (salts <= 0) ranged.groupBy($"h1", $"h2")
            .agg(count(lit(1)).as("n"))
          else ranged
            .withColumn("salt", pmod(spark_partition_id().cast("long"), lit(salts.toLong)))
            .groupBy($"h1", $"h2", $"salt")
            .agg(count(lit(1)).as("c"))
            .groupBy($"h1", $"h2")
            .agg(sum($"c").as("n")))
          .filter($"n" > 1)
        ranged.join(dupKeys, Seq("h1", "h2"))
          .select(lit(runId).as("run_id"), $"part",
            lit(checkId).as("check_id"), $"__key".as("doc_id"),
            concat(lit(s"duplicate ${keyCols.mkString(",")} x"), $"n").as("detail"))
          .as[Violation]
      }
    (violations, perPart)
  }

  /** SINGLE-EXCHANGE one-map-pass uniqueness (round-6 default): the stacked
    * formulation's three aggregations (map-side partial over mostly-unique
    * keys — which combines almost nothing — final key-grain hash agg, then a
    * part-grain rollup with its own exchange) collapse into ONE
    * [[graft.sketch.UniqStatsAgg]] pass over rows explicitly
    * hash-partitioned by the 128-bit key pair:
    *
    *   scan → project(part,h1,h2) → Exchange(h1,h2) → open-addressing map
    *   pass → O(tasks × parts) reduced rows → driver
    *
    * The one full-volume exchange now carries the RAW 3-column rows (32 B
    * UnsafeRow vs the stacked partial-agg rows' 48 B), and the per-key work
    * is a single primitive-map probe instead of two UnsafeRow hash-map
    * probes plus the rollup. Duplicate keys come back as a bounded
    * side-channel, so dup recovery is one pruned scan + a broadcast join —
    * the stacked path's re-aggregation of the dirty part range disappears
    * from the pass's critical-path tail. Outputs are identical to
    * [[uniquenessStacked]] (UniqSinglePassSpec asserts equality on dup,
    * cross-part, hot-key, composite and clean fixtures).
    *
    * Skew note: a pathologically hot key concentrates its copies on one
    * reducer by construction (they must meet to be counted — same as the
    * stacked final agg); the per-task cost is one map probe per copy, the
    * cheapest possible handling short of salting (selectable via salts > 0).
    */
  private[graft] def uniquenessSinglePass(docs: DataFrame, runId: String,
                 keyCols: Seq[String] = Seq("doc_id")): (Dataset[Violation], Map[Int, UniquenessStats]) = {
    val spark = docs.sparkSession
    import spark.implicits._
    val checkId =
      if (keyCols == Seq("doc_id")) "unique_doc_id"
      else s"unique_${keyCols.mkString("_")}"
    def normKeys: Seq[Column] =
      keyCols.map(c => coalesce(col(c).cast("string"), lit("\u0000NULL")))
    def keyDisplay: Column =
      if (keyCols.size == 1) col(keyCols.head).cast("string")
      else concat_ws("\u0001", normKeys: _*)
    val keyed = docs.select($"part",
      xxhash64(normKeys :+ lit("u1"): _*).as("h1"),
      xxhash64(normKeys :+ lit("u2"): _*).as("h2"))
    val dec = graft.sketch.UniqStatsAgg.decode(
      keyed.repartition(uniqShufflePartitions(keyed), $"h1", $"h2")
        .agg(graft.sketch.UniqStatsAgg.uniqStats($"h1", $"h2", $"part").as("u"))
        .head().getAs[Array[Byte]](0))
    val perPart = dec.parts.map { case (p, u) =>
      p -> UniquenessStats(u.dupKeys, u.distinctKeys, u.totalRows)
    }
    val violations: Dataset[Violation] =
      if (!perPart.values.exists(_.dupKeys > 0)) spark.emptyDataset[Violation]
      else {
        // same part-range pruning as the stacked path: all copies of every
        // dup key lie within [min attributed part, max dup-part]. The
        // bounded side-channel IS the dup key set — recovery is one pruned
        // scan + broadcast join; on overflow it re-aggregates in range.
        val loP = dec.parts.collect { case (p, u) if u.dupKeys > 0 => p }.min
        val hiP = dec.parts.values.map(_.maxDupPart).max
        recoverDupRows(docs, runId, checkId, keyCols, normKeys, keyDisplay,
          loP, hiP, if (dec.dupOverflow) None else Some(dec.dupKeys))
      }
    (violations, perPart)
  }

  /** Dup-recovery rows shared by the side-channel path: scan the pruned
    * part range once and attach counts via a broadcast of the collected dup
    * keys; when the side-channel overflowed (`None`), re-aggregate in-range
    * like the stacked path always did. Row set identical either way. */
  private def recoverDupRows(docs: DataFrame, runId: String, checkId: String,
                             keyCols: Seq[String],
                             normKeys: Seq[Column], keyDisplay: Column,
                             loP: Int, hiP: Int,
                             dupKeys: Option[Array[(Long, Long, Long)]]): Dataset[Violation] = {
    val spark = docs.sparkSession
    import spark.implicits._
    def toRows(keyed: DataFrame): Dataset[Violation] = keyed
      .select(lit(runId).as("run_id"), $"part",
        lit(checkId).as("check_id"), $"__key".as("doc_id"),
        concat(lit(s"duplicate ${keyCols.mkString(",")} x"), $"n").as("detail"))
      .as[Violation]
    dupKeys match {
      case Some(keys) =>
        // the side-channel IS the dup key set: broadcast it as a primitive
        // map and probe inside the (codegen'd) pruned scan — one
        // Scan→Project→Filter stage, no dup-key LocalRelation in the plan,
        // no join build, no driver row encoding (plans/r06/uniq_violations)
        val bc = spark.sparkContext.broadcast(graft.sketch.Long128Map.build(keys))
        toRows(docs.filter($"part".between(loP, hiP))
          .select($"part", keyDisplay.as("__key"),
            graft.functions.DupCount.dup_count(
              xxhash64(normKeys :+ lit("u1"): _*),
              xxhash64(normKeys :+ lit("u2"): _*), bc).as("n"))
          .filter($"n".isNotNull))
      case None =>
        // side-channel overflowed: re-aggregate the pruned range (the
        // stacked path's recovery shape)
        val ranged = docs.filter($"part".between(loP, hiP))
          .select($"part", keyDisplay.as("__key"),
            xxhash64(normKeys :+ lit("u1"): _*).as("h1"),
            xxhash64(normKeys :+ lit("u2"): _*).as("h2"))
        val dupDf = ranged.groupBy($"h1", $"h2")
          .agg(count(lit(1)).as("n")).filter($"n" > 1)
        toRows(ranged.join(dupDf, Seq("h1", "h2")))
    }
  }

  /** Scale-adaptive partition count for the uniqueness key exchange. Two
    * independent lower bounds, capped at 128Ki partitions:
    *  - the projected input's plan-estimated size over ~16 MB per partition
    *    (~0.5M estimated 28 B key rows ≈ 16 MB of open-addressing map per
    *    task — small enough to stay cache-resident, the dominant cost of a
    *    random-probe count; and a hard bound on per-task memory at any
    *    input size — never a constant tuned to one box);
    *  - the session shuffle width (the floor the rest of the pass uses). */
  private[graft] def uniqShufflePartitions(keyed: DataFrame): Int = {
    val conf = keyed.sparkSession.sessionState.conf.numShufflePartitions
    val est = keyed.queryExecution.optimizedPlan.stats.sizeInBytes
    val byBytes = (est / (16L << 20)).toLong + 1
    math.max(conf, math.min(byBytes, 1L << 17).toInt)
  }

  /** ZERO-EXCHANGE uniqueness for doc_id-bucketed snapshots (P20 wired into
    * E5): on a table whose layout already hash-distributes by doc_id
    * (BucketedTables.commit), `groupBy(doc_id)` plans partial+final
    * HashAggregate with NO shuffle — the corpus-wide key exchange that
    * dominates the flagship pass's critical path is paid once at ingest
    * instead of on every run. The per-part rollup that follows shuffles only
    * map-side-combined partials (rows ∝ tasks × parts, not docs). Duplicate
    * rows are recovered from a part-range-pruned rescan whose groupBy and
    * join are ALSO exchange-free on the bucketed side (filter preserves the
    * scan's output partitioning). Same outputs as [[uniqueness]]. */
  def uniquenessBucketed(docs: DataFrame, runId: String): (Dataset[Violation], Map[Int, UniquenessStats]) = {
    val spark = docs.sparkSession
    import spark.implicits._
    val perKey = docs.select($"part", $"doc_id")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n"), min($"part").as("part"), max($"part").as("maxp"))
    val perPartRows = perKey.groupBy($"part")
      .agg(sum(when($"n" > 1, 1L).otherwise(0L)).as("dups"),
        count(lit(1)).as("distinct"), sum($"n").as("total"),
        max(when($"n" > 1, $"maxp")).as("max_dup_part"))
      .collect()
    val perPart = perPartRows
      .map(r => r.getInt(0) -> UniquenessStats(r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val violations: Dataset[Violation] =
      if (!perPart.values.exists(_.dupKeys > 0)) spark.emptyDataset[Violation]
      else {
        val loP = perPartRows.collect { case r if r.getLong(1) > 0 => r.getInt(0) }.min
        val hiP = perPartRows.collect { case r if !r.isNullAt(4) => r.getInt(4) }.max
        val ranged = docs.filter($"part".between(loP, hiP)).select($"part", $"doc_id")
        val dupKeys = ranged.groupBy($"doc_id").agg(count(lit(1)).as("n")).filter($"n" > 1)
        ranged.join(dupKeys, Seq("doc_id"))
          .select(lit(runId).as("run_id"), $"part",
            lit("unique_doc_id").as("check_id"), $"doc_id",
            concat(lit("duplicate doc_id x"), $"n").as("detail"))
          .as[Violation]
      }
    (violations, perPart)
  }

  /** True when `groupBy(doc_id)` over `docs` plans with no shuffle exchange —
    * the layout signal that selects [[uniquenessBucketed]]. Pure plan walk
    * (no job runs). */
  def docIdGroupingIsShuffleFree(docs: DataFrame): Boolean =
    graft.engine.BucketedTables.hasNoShuffle(
      docs.select(col("doc_id")).groupBy(col("doc_id")).agg(count(lit(1))))

  /** AUTO uniqueness: zero-exchange path when the snapshot layout already
    * distributes by doc_id, the single-shuffle hash-pair path otherwise
    * (salted two-stage selectable via `salts`, E13). */
  def uniquenessAuto(docs: DataFrame, runId: String, salts: Int = 0): (Dataset[Violation], Map[Int, UniquenessStats]) =
    if (docIdGroupingIsShuffleFree(docs)) uniquenessBucketed(docs, runId)
    else uniqueness(docs, runId, salts)

  /** CROSS-SNAPSHOT uniqueness (E5, incremental): docs of `newDocs` (the
    * partitions appended by a snapshot) whose doc_id already exists in
    * `baseDocs` (the previously-validated corpus). The base side is
    * 10^12-scale and must only ever be SCANNED, never shuffled wholesale:
    *
    *  - both sides project to the same fixed-width 128-bit hash pair as
    *    [[uniqueness]] (no variable-length ids in any exchange);
    *  - when the NEW side's plan-estimated size fits `broadcastMaxBytes`
    *    (the common case — one appended partition vs the whole corpus), its
    *    distinct key set broadcasts INTO the base scan: one narrow pass over
    *    base emits only collided keys (bounded by the new side), which
    *    broadcast back onto the new rows. Zero Exchange anywhere
    *    (spec-asserted) — the base corpus crosses no network;
    *  - otherwise one shuffled LEFT SEMI join (AQE skew-splits at runtime).
    *
    * Violations attribute to the NEW part (where the collision arrived) —
    * a full revalidation's [[uniqueness]] attributes a dup to the key's min
    * part instead; incremental callers want "which appended doc collides",
    * documented asymmetry. Returns (violations, per-NEW-part collision
    * counts). */
  private def crossKeyed(df: DataFrame): DataFrame = {
    import df.sparkSession.implicits._
    df.select($"part", $"doc_id",
      xxhash64($"doc_id", lit("u1")).as("h1"),
      xxhash64($"doc_id", lit("u2")).as("h2"))
  }

  /** The collided-row plan behind [[uniquenessCross]], exposed so specs can
    * assert the broadcast path's ZERO-EXCHANGE shape (no `distinct` anywhere:
    * a semi-join build tolerates duplicate keys, and a dedup would buy an
    * Exchange for nothing — the broadcast payloads are bounded by the new
    * side / the collision set either way). */
  private[graft] def crossCollided(newDocs: DataFrame, baseDocs: DataFrame,
                                   useBroadcast: Boolean): DataFrame = {
    val newKeys = crossKeyed(newDocs)
    val baseKeys = crossKeyed(baseDocs).select("h1", "h2")
    if (useBroadcast) {
      // the bounded new-key set rides a broadcast INTO the base scan; only
      // keys that actually collide survive (output bounded by the new side,
      // usually ~zero) and broadcast back onto the new rows — the base
      // corpus crosses no network, and no hash Exchange exists anywhere.
      val hit = baseKeys.join(broadcast(newKeys.select("h1", "h2")),
        Seq("h1", "h2"), "left_semi")
      newKeys.join(broadcast(hit), Seq("h1", "h2"), "left_semi")
    } else newKeys.join(baseKeys, Seq("h1", "h2"), "left_semi")
  }

  def uniquenessCross(newDocs: DataFrame, baseDocs: DataFrame, runId: String,
                      broadcastNew: Option[Boolean] = None,
                      broadcastMaxBytes: Long = 256L << 20): (Dataset[Violation], Map[Int, Long]) = {
    val useBroadcast = broadcastNew.getOrElse {
      val est = newDocs.select("doc_id").queryExecution.optimizedPlan.stats.sizeInBytes
      est <= BigInt(broadcastMaxBytes)
    }
    // the materialized collisions are bounded by the new side
    violationsOf(crossCollided(newDocs, baseDocs, useBroadcast), runId,
      "unique_doc_id_cross", lit("doc_id already present in base snapshot"))
  }

  /** Per-part counts and materialized [[Violation]] rows of a frame of
    * violating (part, doc_id, …) rows, computed from one cache of it. The
    * rows are checkpointed while the cache is alive, and the cache is then
    * dropped: a cached plan left registered would be re-listed by every
    * later write to its path. */
  private def violationsOf(rows: DataFrame, runId: String, checkId: String,
                           detail: Column): (Dataset[Violation], Map[Int, Long]) = {
    import rows.sparkSession.implicits._
    val cached = rows.cache()
    try {
      val perPart = cached.groupBy($"part").count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val violations = cached
        .select(lit(runId).as("run_id"), $"part", lit(checkId).as("check_id"),
          $"doc_id", detail.as("detail"))
        .as[Violation]
        .localCheckpoint(true)
      (violations, perPart)
    } finally cached.unpersist()
  }

  /** Referential integrity of span.media_ref against the media catalog (E6):
    * explode media spans → LEFT ANTI join vs media. The catalog side is
    * broadcast when small (explicit hint below `broadcastMedia`), else Spark
    * plans a shuffled join and AQE converts/splits at runtime — the
    * skew-safe default for a 10^12-row probe side. */
  def referential(docs: DataFrame, media: DataFrame, runId: String,
                  broadcastMedia: Boolean = true): (Dataset[Violation], Map[Int, Long]) = {
    val spark = docs.sparkSession
    import spark.implicits._
    // explode the media_ref FIELD array (not the struct array): the parquet
    // scan then reads only the media_ref subfield bytes (nested pruning)
    val refs = docs
      .select($"part", $"doc_id", explode(col("spans.media_ref")).as("media_ref"))
      .filter($"media_ref".isNotNull)
    val cat = media.select($"media_ref")
    violationsOf(
      refs.join(if (broadcastMedia) broadcast(cat) else cat, Seq("media_ref"), "left_anti"),
      runId, "ref_media", concat(lit("dangling media_ref "), $"media_ref"))
  }

  /** Span-order + null-kind integrity (the order-significance invariant —
    * reference preserves span order through its whole pipeline,
    * ml/utils/autoencoder.py:243-244) is checked per-doc by the compiled
    * [[graft.functions.SpanFlags]] expression; in the full validation pass
    * the COUNTS ride the DocStatsAgg scan for free and only dirty partitions
    * are rescanned for rows ([[spanIntegrityRows]]). */

  /** Cross-field CONSISTENCY companion to [[referential]]: existence (E6)
    * proves a span's `media_ref` points at a catalog row; this proves the
    * span's declared `kind` AGREES with that row's `media_kind` — the
    * mislabeled-modality defect (an "image" span pointing at an audio
    * asset) that passes every existence join and then feeds the wrong
    * decoder downstream. Dangling refs are EXCLUDED here (the inner join
    * drops them — E6 owns that verdict), and null-kind spans carry no
    * media_ref by the span contract, so the checks partition the failure
    * space cleanly.
    *
    * Shape: the span side explodes only the zipped (kind, media_ref)
    * FIELD arrays (nested pruning — `spans.text` never leaves parquet),
    * the slim 2-column catalog broadcasts, and the only Exchange carries
    * O(parts) count rows. Returns per-part `(n_refs, n_kind_mismatch)`. */
  def kindConsistency(docs: DataFrame, media: DataFrame,
                      broadcastMedia: Boolean = true): DataFrame = {
    import docs.sparkSession.implicits._
    val refs = docs.select($"part",
        explode(arrays_zip(col("spans.kind"), col("spans.media_ref"))).as("z"))
      .select($"part", $"z.kind".as("kind"), $"z.media_ref".as("media_ref"))
      .filter($"media_ref".isNotNull)
    val cat = media.select($"media_ref", $"media_kind")
    refs.join(if (broadcastMedia) broadcast(cat) else cat, Seq("media_ref"))
      .groupBy($"part")
      .agg(count(lit(1)).as("n_refs"),
        sum(when($"kind" =!= $"media_kind", 1L).otherwise(0L)).as("n_kind_mismatch"))
  }

  /** Row-level evidence for [[kindConsistency]] — one [[Violation]] per
    * disagreeing span occurrence (check_id `kind_mismatch`). Same join
    * shape; only mismatching rows ever leave the scan. */
  def kindConsistencyRows(docs: DataFrame, media: DataFrame, runId: String,
                          broadcastMedia: Boolean = true): Dataset[Violation] = {
    import docs.sparkSession.implicits._
    val refs = docs.select($"part", $"doc_id",
        explode(arrays_zip(col("spans.kind"), col("spans.media_ref"))).as("z"))
      .select($"part", $"doc_id", $"z.kind".as("kind"), $"z.media_ref".as("media_ref"))
      .filter($"media_ref".isNotNull)
    val cat = media.select($"media_ref", $"media_kind")
    refs.join(if (broadcastMedia) broadcast(cat) else cat, Seq("media_ref"))
      .filter($"kind" =!= $"media_kind")
      .select(lit(runId).as("run_id"), $"part",
        lit("kind_mismatch").as("check_id"), $"doc_id",
        concat(lit("span kind "), $"kind", lit(" != media_kind "),
          $"media_kind", lit(" for "), $"media_ref").as("detail"))
      .as[Violation]
  }

  /** PROBE-SIDE referential check (E6 at huge-catalog scale): when the
    * media catalog exceeds every broadcast bound but the DOCS' distinct
    * referenced set is small (the common incremental-validation case — one
    * appended partition referencing a bounded set of assets vs a 10^9-row
    * catalog), the right plan broadcasts the REFERENCED set into one narrow
    * catalog scan instead of shuffling both sides:
    *
    *   refs(docs) --distinct--> broadcast → semi-join catalog scan
    *     → present set (bounded by refs) → broadcast → anti-join docs refs
    *
    * The catalog crosses no network and is scanned exactly once; the only
    * hash Exchange is the bounded refs distinct (needed so the broadcast
    * payload is the DISTINCT set — doc refs repeat heavily). Same outputs
    * as [[referential]]. */
  /** The dangling-ref plan behind [[referentialProbeSide]], exposed so specs
    * can assert its shape: the ONLY hash Exchange is the bounded
    * refs-distinct — the catalog side is scan → BroadcastHashJoin, never
    * exchanged. */
  private[graft] def probeSideDangling(docs: DataFrame, media: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val refs = docs
      .select($"part", $"doc_id", explode(col("spans.media_ref")).as("media_ref"))
      .filter($"media_ref".isNotNull)
    val refSet = refs.select($"media_ref").distinct()
    val present = media.select($"media_ref")
      .join(broadcast(refSet), Seq("media_ref"), "left_semi")
    refs.join(broadcast(present), Seq("media_ref"), "left_anti")
  }

  def referentialProbeSide(docs: DataFrame, media: DataFrame, runId: String): (Dataset[Violation], Map[Int, Long]) =
    violationsOf(probeSideDangling(docs, media), runId, "ref_media",
      concat(lit("dangling media_ref "), col("media_ref")))

  /** LAZY violation-row variants: no cache, no count jobs. Used when the
    * per-part counts are already known from the fused stats scan — the
    * returned Datasets are evaluated together in the caller's single
    * violations write, so all dirty-partition rescans run concurrently as
    * stages of one job. */
  /** When the caller already holds the run's broadcast media hash-set (the
    * fused-scan path), `mediaSet` selects a probe FILTER over the exploded
    * refs — the same predicate that produced the counts, one codegen'd
    * stage, no per-job broadcast-relation build. Without it, the exact
    * string anti-join (also the big-catalog audit shape). */
  def referentialRows(docs: DataFrame, media: DataFrame, runId: String,
                      mediaSet: Option[org.apache.spark.broadcast.Broadcast[graft.sketch.LongHashSet]] = None): Dataset[Violation] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val refs = docs
      .select($"part", $"doc_id", explode(col("spans.media_ref")).as("media_ref"))
      .filter($"media_ref".isNotNull)
    val dangling = mediaSet match {
      case Some(set) =>
        refs.filter(!graft.functions.RefKnown.ref_known($"media_ref", set))
      case None =>
        refs.join(broadcast(media.select($"media_ref")), Seq("media_ref"), "left_anti")
    }
    dangling
      .select(lit(runId).as("run_id"), $"part",
        lit("ref_media").as("check_id"), $"doc_id",
        concat(lit("dangling media_ref "), $"media_ref").as("detail"))
      .as[Violation]
  }

  def spanIntegrityRows(docs: DataFrame, runId: String): Dataset[Violation] = {
    val spark = docs.sparkSession
    import spark.implicits._
    // one compiled array pass per doc (native span_flags expression over the
    // nested-pruned kind/offset field arrays) — the interpreted HOF-lambda
    // predicate this replaces measured 3× CPU inflation at 32 threads
    docs
      .select($"part", $"doc_id",
        graft.functions.SpanFlags.span_flags(
          col("spans.kind"), col("spans.offset")).as("fl"))
      .filter($"fl" =!= 0)
      .select($"part", $"doc_id", explode(filter(array(
        when(($"fl".bitwiseAND(graft.functions.SpanFlags.OrdBit)) =!= 0, "span_order")
          .otherwise(lit(null).cast("string")),
        when(($"fl".bitwiseAND(graft.functions.SpanFlags.NullKindBit)) =!= 0, "null_kind")
          .otherwise(lit(null).cast("string"))),
        x => x.isNotNull)).as("check_id"))
      .select(lit(runId).as("run_id"), $"part", $"check_id", $"doc_id",
        when($"check_id" === "span_order", "non-monotone span offsets")
          .otherwise("span with null kind").as("detail"))
      .as[Violation]
  }

  /** Fused span-integrity pass: span-order AND null-kind violations from ONE
    * scan (both are narrow per-row predicates over the spans array — no
    * reason to pay two table reads). Returns violations plus per-(part,check)
    * counts. */
  def spanIntegrity(docs: DataFrame, runId: String): (Dataset[Violation], Map[(Int, String), Long]) = {
    val spark = docs.sparkSession
    import spark.implicits._
    val flagged = docs
      .select($"part", $"doc_id",
        graft.functions.SpanFlags.span_flags(
          col("spans.kind"), col("spans.offset")).as("fl"))
      .filter($"fl" =!= 0)
      .withColumn("ord", ($"fl".bitwiseAND(graft.functions.SpanFlags.OrdBit)) =!= 0)
      .withColumn("nk", ($"fl".bitwiseAND(graft.functions.SpanFlags.NullKindBit)) =!= 0)
      .cache()
    try {
      val perPartCheck = flagged
        .groupBy($"part")
        .agg(sum(when($"ord", 1L).otherwise(0L)).as("n_ord"),
          sum(when($"nk", 1L).otherwise(0L)).as("n_nk"))
        .collect()
        .flatMap(r => Seq((r.getInt(0), "span_order") -> r.getLong(1),
          (r.getInt(0), "null_kind") -> r.getLong(2)))
        .toMap
      val violations = flagged
        .select($"part", $"doc_id", explode(filter(array(
          when($"ord", "span_order").otherwise(lit(null).cast("string")),
          when($"nk", "null_kind").otherwise(lit(null).cast("string"))),
          x => x.isNotNull)).as("check_id"))
        .select(lit(runId).as("run_id"), $"part", $"check_id", $"doc_id",
          when($"check_id" === "span_order", "non-monotone span offsets")
            .otherwise("span with null kind").as("detail"))
        .as[Violation]
        .localCheckpoint(true)
      (violations, perPartCheck)
    } finally flagged.unpersist()
  }

  /** Functional-dependency check (E28): violations of `lhs → rhs` — lhs
    * groups observed with MORE THAN ONE distinct rhs value. The classic
    * data-contract constraint the uniqueness (E5, key → whole row) and
    * referential (E6, value ∈ catalog) checks cannot express: "every order
    * key maps to exactly one customer", "every doc_id carries one language".
    *
    * NULL is a VALUE here: `a → NULL` observed next to `a → 'x'` is a
    * violation (two distinct assertions about `a`), which plain
    * `count(distinct rhs)` — NULL-ignoring — would miss. The group-by keeps
    * the NULL group, so counting PAIR GROUPS per lhs gets NULL-as-value
    * semantics for free, and a DuckDB GROUP BY replays it identically.
    *
    * Shape at 100 TB: stage 1 reduces data rows to distinct (lhs, rhs)
    * pairs with a map-side-combined count — the only exchange that sees
    * row-derived volume, carrying O(distinct pairs), not O(rows); stage 2
    * re-groups those slim pair rows by lhs. Witnesses are min/max rhs
    * (bounded, never a collect_set that scales with the violation).
    *
    * Returns one row per VIOLATING lhs group: lhs…, `n_distinct_rhs`,
    * `n_rows`, `rhs_min`, `rhs_max` (min/max ignore NULL, so a {NULL, 'x'}
    * violation witnesses 'x' twice — the NULL side is implied by
    * n_distinct_rhs exceeding the non-null witness count). */
  def functionalDependency(df: DataFrame, lhs: Seq[String], rhs: String): DataFrame = {
    require(lhs.nonEmpty, "fd: at least one determinant column required")
    require(!lhs.contains(rhs), s"fd: $rhs cannot be both determinant and dependent")
    require((lhs :+ rhs).forall(df.columns.contains),
      s"fd: columns ${(lhs :+ rhs).mkString(",")} must exist in ${df.columns.mkString(",")}")
    val pairs = df.groupBy((lhs :+ rhs).map(col): _*).agg(count(lit(1)).as("__n"))
    pairs.groupBy(lhs.map(col): _*)
      .agg(count(lit(1)).as("n_distinct_rhs"), sum("__n").as("n_rows"),
        min(col(rhs)).as("rhs_min"), max(col(rhs)).as("rhs_max"))
      .filter(col("n_distinct_rhs") > 1)
  }

  /** Per-row span-sequence equality vs a reference copy of the table (E14):
    * joins on doc_id and compares the spans arrays positionally (Spark array
    * equality is order-sensitive). Returns docs whose sequence differs. */
  def spanSequenceEquality(docs: DataFrame, reference: DataFrame, runId: String): Dataset[Violation] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.alias("a")
      .join(reference.alias("b"), Seq("doc_id"))
      .filter(!(col("a.spans") <=> col("b.spans")))
      .select(lit(runId).as("run_id"), col("a.part").as("part"),
        lit("span_seq_equality").as("check_id"), col("doc_id"),
        lit("span sequence differs from reference").as("detail"))
      .as[Violation]
  }
}
