package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.checks.{RefState, Verdict}

/** WRITE-AUDIT-PUBLISH gated ingest — Iceberg's WAP pattern composed from
  * the engine's own primitives, which is what a validation engine is FOR:
  * the batch COMMITS to a real snapshot, the full validation pass AUDITS
  * exactly the appended partitions, and a failing gate ROLLS the table
  * BACK so downstream readers of "current" never see the bad batch. The
  * audited snapshot stays pinned-readable after a rollback (forensics on
  * the rejected rows — read it by id, its violation rows name the
  * offending docs) until expiry GCs it; a publish is just the commit
  * standing.
  *
  * Gate semantics: the batch is rejected iff ANY verdict of a check in
  * `gateChecks` has `passed == false`. The default gate is the constraint
  * family (uniqueness, referential, span-order, null-kind, schema) — the
  * "this data is structurally broken" class; drift checks default to
  * ADVISORY (a drifted-but-valid batch usually ships while the alarm
  * pages someone), and a caller who wants drift to gate adds those
  * check_ids.
  *
  * Scale shape: one commit (O(batch) write), one validation pass over the
  * NEW partitions only, read from their own part dirs (never O(table),
  * and the table's data dir is never listed), one O(parts × checks) verdict
  * collect for the gate, and a rollback that is a manifest write — no
  * data moves on rejection.
  */
object Wap {

  /** The structural-integrity gate: reject on constraint failures, let
    * drift verdicts advise. */
  val DefaultGate: Set[String] =
    Set("unique_doc_id", "ref_media", "span_order", "null_kind",
      "schema_contract", "kind_mismatch")

  case class WapResult(
      /** true: the batch's snapshot is the table's current; false: the
        * table was rolled back and current matches the pre-commit state */
      published: Boolean,
      /** the snapshot the batch landed in (pinned-readable either way) */
      auditedSnapshotId: Long,
      /** the table's current snapshot after the decision */
      currentSnapshotId: Long,
      /** gate verdicts that failed (empty on publish) */
      failing: Seq[Verdict],
      /** the full audit output (all verdicts + violation rows) */
      results: ValidationRun.Results)

  /** Commit `batch`, audit its new partitions with a full validation pass,
    * publish or roll back. `ref` is re-stamped with the audited snapshot id
    * so the verdicts key correctly in a results table. */
  def validateAndPublish(spark: SparkSession, table: String, batch: DataFrame,
                         media: DataFrame, ref: RefState, cfg: RunConfig,
                         gateChecks: Set[String] = DefaultGate): WapResult = {
    require(gateChecks.nonEmpty, "wap: gateChecks must be non-empty")
    val prior = SnapshotCatalog.currentSnapshotId(table)
    val priorParts = prior
      .map(id => SnapshotCatalog.readManifest(table, id).parts.toSet)
      .getOrElse(Set.empty[Int])
    val snap = SnapshotCatalog.commit(table, batch)
    val newParts = (snap.parts.toSet -- priorParts).toSeq.sorted
    val newDocs = SnapshotCatalog.read(spark, table, snap.snapshotId, Some(newParts))
    val res = ValidationRun.run(newDocs, media,
      ref.copy(snapshotId = snap.snapshotId), cfg)
    // O(parts × checks) rows — the verdict frame is bounded by design
    val failing = res.verdicts.collect()
      .filter(v => gateChecks.contains(v.check_id) && !v.passed).toSeq
    if (failing.isEmpty)
      WapResult(published = true, snap.snapshotId, snap.snapshotId,
        Seq.empty, res)
    else {
      val rolled = prior match {
        case Some(p) => SnapshotCatalog.rollbackTo(table, p).snapshotId
        case None =>
          // first batch rejected: roll to an EMPTY table state (replace
          // every part with nothing) — current readers see zero rows, the
          // audited snapshot keeps the evidence
          SnapshotCatalog.commitReplacing(table, snap.parts.toSet, Seq.empty)
            .snapshotId
      }
      WapResult(published = false, snap.snapshotId, rolled, failing, res)
    }
  }
}
