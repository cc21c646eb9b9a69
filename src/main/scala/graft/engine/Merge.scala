package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Copy-on-write MERGE at part grain (E29) — the row-level mutation path the
  * append-only catalog lacked: the analog of Iceberg's `MERGE INTO`
  * copy-on-write mode (and the reference's "re-detect after upstream
  * correction" loop, where a production batch is fixed and re-validated —
  * ml/testing.py re-runs detectors over corrected batches; at snapshot scale
  * the correction itself must be a first-class table op).
  *
  * Semantics (delete-then-insert, Iceberg COW MERGE):
  *  - `source` rows UPSERT by `keyCol`: any target row with a matching key
  *    is removed, and every source row is inserted — an update is a whole-row
  *    replace, an unmatched source row is a plain insert.
  *  - `deleteKeys` rows DELETE by `keyCol`; keys matching nothing are no-ops.
  *  - Target rows whose key appears in BOTH source and deleteKeys are
  *    ambiguous — fail loud (Iceberg raises on multiple-action matches too).
  *  - Duplicate keys WITHIN source are ambiguous (which copy wins?) — fail
  *    loud. Duplicate keys within the TARGET are allowed (uniqueness is a
  *    CHECK in this engine, not an invariant): all copies are replaced.
  *
  * Shape at 100 TB:
  *  - affected-part detection is ONE pruned (key, part) column scan
  *    semi-joined against the slim key set (broadcast under
  *    [[Merge.MaxBroadcastKeys]], shuffled above — the E6 auto-selection
  *    rule), then an O(parts) distinct collect.
  *  - only AFFECTED parts are rewritten (anti-join against the same key
  *    set); untouched parts are shared structurally with the old snapshot —
  *    cost is O(affected data + source), never O(table).
  *  - rewritten parts land under FRESH part ids and the manifest swap is
  *    [[SnapshotCatalog.commitReplacing]] — old snapshots keep reading the
  *    replaced dirs until expiry GCs them (time travel across a merge works).
  *  - crash between the data write and the manifest commit leaves orphan
  *    dirs no manifest references: invisible to every pinned read, and
  *    [[SnapshotCatalog.maxKnownPart]] keeps later merges from colliding
  *    with them.
  */
object Merge {

  /** Key-set size above which the semi/anti joins run shuffled instead of
    * broadcast — same bound as the referential catalog path. */
  val MaxBroadcastKeys: Long = 20L * 1000 * 1000

  case class MergeResult(
      snapshot: SnapshotCatalog.Snapshot,
      /** old affected part id → fresh rewritten part id */
      rewrittenParts: Map[Int, Int],
      /** part id the source rows were inserted into (None: empty source) */
      insertPart: Option[Int],
      /** true when the merge changed nothing and NO new snapshot was cut */
      noop: Boolean,
      /** parts the affected-part detection actually scanned after manifest
        * key-stats pruning (E31) — ≤ the snapshot's part count; equality
        * means the manifest had no stats or the key range spanned it */
      candidateParts: Seq[Int] = Seq.empty)

  /** Run the merge against the CURRENT snapshot of `table`. `source` must
    * carry exactly the target's data columns (everything but `part`);
    * `deleteKeys` must carry `keyCol`. Returns the new snapshot (or the
    * current one unchanged when the merge is a provable no-op: empty source
    * and no delete key matched). */
  def merge(spark: SparkSession, table: String, source: DataFrame,
            deleteKeys: DataFrame, keyCol: String = "doc_id",
            codec: String = "zstd",
            broadcastKeys: Option[Boolean] = None): MergeResult = {
    val cur = SnapshotCatalog.currentSnapshotId(table).getOrElse(
      throw new IllegalArgumentException(s"merge: no snapshots at $table"))
    val curSnap = SnapshotCatalog.readManifest(table, cur)
    val target = SnapshotCatalog.read(spark, table, cur)
    val dataCols = target.columns.filterNot(_ == "part").toSeq
    require(dataCols.contains(keyCol),
      s"merge: key column $keyCol not in target columns ${target.columns.mkString(",")}")
    require(source.columns.toSet == dataCols.toSet,
      s"merge: source columns ${source.columns.sorted.mkString(",")} must equal " +
        s"the target's data columns ${dataCols.sorted.mkString(",")}")
    require(deleteKeys.columns.contains(keyCol),
      s"merge: deleteKeys must carry $keyCol")

    // slim key frames; the union is referenced three times (ambiguity guard,
    // affected detection, anti-join) — persist and release deterministically
    val srcKeys = source.select(col(keyCol))
    val delKeys = deleteKeys.select(col(keyCol)).distinct()
    val dupSrc = source.groupBy(col(keyCol)).count()
      .filter(col("count") > 1).limit(1).count()
    require(dupSrc == 0L,
      s"merge: source has duplicate $keyCol values - which copy wins is " +
        "ambiguous (dedupe the source first)")
    val both = srcKeys.join(delKeys, Seq(keyCol), "inner").limit(1)
      .collect().headOption
    require(both.isEmpty,
      s"merge: $keyCol=${both.get.get(0)} appears in BOTH source and " +
        "deleteKeys - a row cannot be upserted and deleted in one merge")

    val allKeys = srcKeys.union(delKeys).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nSource = srcKeys.count()
      val nKeys = allKeys.count()
      val useBroadcast = broadcastKeys.getOrElse(nKeys <= MaxBroadcastKeys)
      val keysJ = if (useBroadcast) broadcast(allKeys) else allKeys

      // manifest key-stats pruning (E31): parts whose [min, max] bound
      // cannot contain any key are dropped BEFORE the detection scan — on a
      // key-clustered table (time-ordered ingest) a point merge touches
      // O(1) parts of 10^5 without reading a single footer. Sound for any
      // layout: stat-less parts always remain candidates.
      val candidates: Seq[Int] =
        if (nKeys == 0) Seq.empty
        else if (curSnap.partStats.isEmpty ||
            target.schema(keyCol).dataType != org.apache.spark.sql.types.StringType)
          curSnap.parts
        else {
          val r = allKeys.agg(min(col(keyCol)).as("lo"), max(col(keyCol)).as("hi"))
            .collect()(0)
          SnapshotCatalog.partsForKeyRange(curSnap, r.getString(0), r.getString(1))
        }

      // ONE pruned (key, part) scan over the candidates finds the parts
      // that must be rewritten
      val affected =
        if (candidates.isEmpty) Seq.empty[Int]
        else target.filter(col("part").isin(candidates: _*))
          .select(col(keyCol), col("part"))
          .join(keysJ, Seq(keyCol), "left_semi")
          .select("part").distinct().collect().map(_.getInt(0)).toSeq.sorted

      if (affected.isEmpty && nSource == 0L)
        return MergeResult(curSnap, Map.empty, None, noop = true,
          candidateParts = candidates)

      // fresh ids after everything any manifest OR the data dir has seen
      val base = SnapshotCatalog.maxKnownPart(table) + 1
      val rewriteMap = affected.zipWithIndex
        .map { case (p, i) => p -> (base + i) }.toMap
      val insertPart = if (nSource > 0) Some(base + affected.size) else None

      val pieces = Seq.newBuilder[DataFrame]
      if (affected.nonEmpty) {
        val remap = typedlit(rewriteMap)
        pieces += target.filter(col("part").isin(affected: _*))
          .join(keysJ, Seq(keyCol), "left_anti")
          .withColumn("part", element_at(remap, col("part")))
      }
      insertPart.foreach { ip =>
        pieces += source.select(dataCols.map(col): _*)
          .withColumn("part", lit(ip))
      }
      val out = pieces.result().reduce(_.unionByName(_))
        .select(target.columns.map(col): _*)
      out.write.mode("append").option("compression", codec)
        .partitionBy("part").parquet(s"$table/data")

      // manifest stats for the fresh parts from the footers just written
      // (no Spark job) — keeps the E31 pruning sharp across merges instead
      // of degrading to stat-less parts
      val freshIds = rewriteMap.values.toSeq ++ insertPart
      val freshStats =
        if (target.schema(keyCol).dataType != org.apache.spark.sql.types.StringType)
          Map.empty[Int, SnapshotCatalog.PartKeyStats]
        else SnapshotCatalog.footerKeyStats(spark, table, freshIds, keyCol)
      val snap = SnapshotCatalog.commitReplacing(table, affected.toSet,
        freshIds, freshStats)
      MergeResult(snap, rewriteMap, insertPart, noop = false,
        candidateParts = candidates)
    } finally allKeys.unpersist(blocking = false)
  }
}
