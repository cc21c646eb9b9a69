package graft.engine

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, IntegerType, StructType}
import scala.jdk.CollectionConverters._

/** Thin snapshot-manifest layer over Parquet — the honest substitute for an
  * Iceberg catalog (no Iceberg runtime jar ships in this environment; see
  * SURVEY.md §7). Gives the behaviors the engine actually needs from
  * "Iceberg-shaped" storage: snapshot-pinned reads, per-partition lineage,
  * atomic manifest commits (write-temp + atomic rename), and the snapshot
  * LIFECYCLE ops (E25) — [[rollbackTo]] and [[expireSnapshots]] with
  * orphaned-partition GC, the part-grain analogs of Iceberg's
  * `rollback_to_snapshot` and `expire_snapshots`.
  *
  * Layout: `<table>/data/part=<p>/...parquet` plus
  * `<table>/_snapshots/v<N>.json` listing the partitions and row counts that
  * make up snapshot N. Readers pin a snapshot id and address the manifest's
  * part dirs directly (`<table>/data/part=<p>` under `basePath`), so a read
  * never lists `<table>/data`: a gate that reads one batch part costs
  * O(batch) at any table size, and orphaned or foreign part dirs are never
  * touched. Storage API stays plain `spark.read.parquet`.
  *
  * Part-grain contract (manifests track PARTS, not files — SURVEY.md §7
  * records the substitution): a part id belongs to the snapshot that
  * introduced it, so committers append FRESH part ids. Appending rows into
  * a live part id keeps the current snapshot correct but leaks the rows
  * into older pinned reads of that part; appending into a part id orphaned
  * by a rollback makes the rows invisible until expiry GCs the dir — pass
  * `appendedParts` to get the loud guard against the latter.
  */
object SnapshotCatalog {

  /** Per-part key-column statistics carried in the manifest (E31 — the
    * part-grain analog of Iceberg's per-file column bounds): min/max of the
    * key column plus the exact row count, written at commit time from the
    * batch being appended. Key-addressed operations (MERGE affected-part
    * detection, point lookups) prune parts from the MANIFEST alone — no
    * footer reads, no data scan — before any job is planned. */
  case class PartKeyStats(min: String, max: String, rows: Long)

  case class Snapshot(snapshotId: Long, parts: Seq[Int], createdAtMs: Long,
                      partStats: Map[Int, PartKeyStats] = Map.empty,
                      /** the snapshot's table schema as Spark schema JSON
                        * (E32) — None on manifests from before schema
                        * tracking (reads fall back to footer inference) */
                      schemaJson: Option[String] = None,
                      /** MERGE-ON-READ delete sets in effect (Iceberg v2
                        * equality-delete semantics): names of
                        * `_deletes/<name>` parquet dirs whose single key
                        * column anti-joins every read of this snapshot.
                        * Empty on pre-MOR manifests. */
                      deleteFiles: Seq[String] = Seq.empty)

  private def snapDir(table: String): Path = Paths.get(table, "_snapshots")

  /** Materialized directory listing with the stream CLOSED (Files.list
    * holds a directory fd until closed — an unclosed stream per call leaks
    * fds for the lifetime of the JVM on hot paths like the streaming
    * micro-batch commit, until GC happens to finalize them). */
  private def listNames(dir: Path): Seq[String] = {
    if (!Files.exists(dir)) return Seq.empty
    val st = Files.list(dir)
    try st.iterator().asScala.map(_.getFileName.toString).toList
    finally st.close()
  }

  /** Part ids with a `part=N` data directory on disk — pure fs metadata
    * (no parquet footer job), manifested or not. */
  private[engine] def dataPartDirs(table: String): Set[Int] =
    listNames(Paths.get(table, "data"))
      .collect { case s if s.startsWith("part=") => s.stripPrefix("part=").toInt }
      .toSet

  /** All manifest ids present (not expired), ascending. */
  def manifestIds(table: String): Seq[Long] =
    listNames(snapDir(table))
      .collect { case s if s.startsWith("v") && s.endsWith(".json") =>
        s.stripPrefix("v").stripSuffix(".json").toLong }
      .sorted

  /** Append a new snapshot: writes `df` (must carry an int `part` column)
    * partitioned by part under data/, then commits manifest v(N+1) whose
    * part set is the CURRENT manifest's parts plus the appended ones —
    * never a raw directory listing, so partitions orphaned by a rollback
    * stay invisible (they exist on disk for older pinned readers until
    * [[expireSnapshots]] GCs them).
    *
    * `appendedParts`: the part ids `df` carries, when the caller knows them
    * (a generator's scenario spec, an ingest batch's partition range) —
    * skips the post-write footer scan AND enables the loud orphan-reuse
    * guard. Default None derives fresh parts as written-dirs minus
    * historically-referenced dirs (one partition-column-only footer job).
    * `codec`: parquet compression. zstd trades plentiful CPU for scarce
    * memory/disk bandwidth — the right default for scan-bound validation
    * passes (see BASELINE.md bandwidth probe); snappy kept for compat. */
  /** Ids recordable in manifest stats without a JSON escaper — conservative:
    * an id outside this set just means its part carries no stats (always a
    * pruning candidate), never a broken manifest. */
  private val SafeKey = "[A-Za-z0-9._:/-]+".r

  /** Key-column stats of a batch: one aggregation job over `df`
    * (min/max/count per part — O(batch), the price Iceberg also pays to
    * collect file bounds at write). Empty when the key column is
    * absent/non-string or an id needs escaping. */
  private[engine] def keyStatsOf(df: DataFrame, statsKey: String): Map[Int, PartKeyStats] = {
    import org.apache.spark.sql.functions.{col, count, lit, max, min}
    if (!df.columns.contains(statsKey) ||
        df.schema(statsKey).dataType != org.apache.spark.sql.types.StringType)
      return Map.empty
    df.groupBy(col("part"))
      .agg(min(col(statsKey)).as("mn"), max(col(statsKey)).as("mx"),
        count(lit(1)).as("n"))
      .collect().flatMap { r =>
        (Option(r.getString(1)), Option(r.getString(2))) match {
          case (Some(mn), Some(mx)) if SafeKey.matches(mn) && SafeKey.matches(mx) =>
            Some(r.getInt(0) -> PartKeyStats(mn, mx, r.getLong(3)))
          case _ => None
        }
      }.toMap
  }

  def commit(table: String, df: DataFrame, codec: String = "zstd",
             appendedParts: Option[Seq[Int]] = None,
             statsKey: Option[String] = Some("doc_id"),
             allowEvolution: Boolean = false): Snapshot = {
    val spark = df.sparkSession
    val cur = currentSnapshotId(table).map(readManifest(table, _))
    val live: Set[Int] = cur.map(_.parts.toSet).getOrElse(Set.empty)
    val historical: Set[Int] =
      manifestIds(table).flatMap(readManifest(table, _).parts).toSet
    appendedParts.foreach { ps =>
      val orphanReuse = ps.toSet.intersect(historical -- live)
      require(orphanReuse.isEmpty,
        s"commit: parts ${orphanReuse.toSeq.sorted.mkString(",")} were orphaned " +
          "by a rollback — expireSnapshots must GC them before the ids can be " +
          "reused (appending now would mix new rows into retired data dirs)")
    }
    // schema evolution gate (E32): the appended batch's schema must EQUAL
    // the table's, or extend it additively with allowEvolution — a batch
    // that drops or retypes a leaf would break every reader of the mixed
    // files, so that always fails loud (Iceberg's compatibility rule).
    val newSchemaJson = cur.flatMap(_.schemaJson) match {
      case None => df.schema.json // first commit, or pre-E32 table: adopt
      case Some(js) =>
        val before = org.apache.spark.sql.types.DataType.fromJson(js)
          .asInstanceOf[org.apache.spark.sql.types.StructType]
        val b = graft.checks.SchemaCheck.flatten(before).toMap
        val a = graft.checks.SchemaCheck.flatten(df.schema).toMap
        val removed = b.keySet -- a.keySet
        val retyped = (b.keySet & a.keySet)
          .filter(p => !b(p).equalsIgnoreCase(a(p)))
        require(removed.isEmpty && retyped.isEmpty,
          s"commit: appended batch drops ${removed.toSeq.sorted.mkString(",")} " +
            s"/ retypes ${retyped.toSeq.sorted.mkString(",")} vs the table " +
            "schema - incompatible evolution always fails (readers of the " +
            "mixed files would break)")
        val added = a.keySet -- b.keySet
        require(added.isEmpty || allowEvolution,
          s"commit: appended batch adds leaf paths ${added.toSeq.sorted.mkString(",")} " +
            "- pass allowEvolution=true to accept additive schema evolution")
        if (added.isEmpty) js else df.schema.json
    }
    // auto-discovery safety (checked BEFORE writing anything): un-manifested
    // part dirs that predate this write are crash leftovers — an interrupted
    // Merge/commit wrote data but never committed its manifest. Silently
    // adopting them (`dirParts -- historical`) would re-introduce rows that
    // are still live in the parts they were meant to replace (duplicates).
    // Only the auto-discovery path needs the guard; explicit appendedParts
    // callers already assert their ids via the orphan-reuse require above.
    if (appendedParts.isEmpty) {
      val crashOrphans = dataPartDirs(table) -- historical
      require(crashOrphans.isEmpty,
        s"commit: un-manifested part dir(s) ${crashOrphans.toSeq.sorted.mkString(",")} " +
          "existed BEFORE this write (crash leftovers of an interrupted " +
          "merge/commit) — refusing to auto-adopt them as fresh data; " +
          "delete the dirs or commit them explicitly via appendedParts")
    }
    df.write.mode("append").option("compression", codec)
      .partitionBy("part").parquet(s"$table/data")
    val fresh: Set[Int] = appendedParts match {
      case Some(ps) => ps.toSet
      case None =>
        // written-now = on disk but never referenced by any manifest; dirs
        // orphaned by a rollback are in `historical`, so they stay out
        dataPartDirs(table) -- historical
    }
    // key stats from the bytes JUST WRITTEN (narrow re-read of the fresh
    // part dirs, as Merge does) — never from a second evaluation of `df`:
    // a non-deterministic input (sampled/repartitioned upstream) could
    // otherwise record min/max that disagree with the data on disk, making
    // key-range pruning silently unsound; this also drops the extra full
    // pass per commit. Only the fresh dirs are read, under `df.schema`, so
    // no footer is read to infer one.
    val freshStats: Map[Int, PartKeyStats] = statsKey match {
      case Some(k) if fresh.nonEmpty && df.columns.contains(k) &&
          df.schema(k).dataType == org.apache.spark.sql.types.StringType =>
        keyStatsOf(readParts(spark, table, fresh.toSeq, Some(df.schema))
          .select(k, "part"), k)
      case _ => Map.empty
    }
    val parts = (live ++ fresh).toSeq.sorted
    // live parts keep their existing stats; fresh parts get the batch's
    val stats = cur.map(_.partStats).getOrElse(Map.empty) ++
      freshStats.view.filterKeys(fresh).toMap
    val id = currentSnapshotId(table).getOrElse(0L) + 1L
    // appending data leaves pending MOR delete sets in force — carry them
    val dels = cur.map(_.deleteFiles).getOrElse(Seq.empty)
    val snap = Snapshot(id, parts, System.currentTimeMillis(), stats,
      Some(newSchemaJson), dels)
    writeManifest(table, id, parts, snap.createdAtMs, stats, snap.schemaJson,
      dels)
    snap
  }

  /** Copy-on-write manifest commit (the MERGE primitive, see [[Merge]]):
    * the new snapshot's part set is the CURRENT manifest's parts minus
    * `replaced` plus `appended` — data for the appended parts must already
    * be on disk (the caller wrote it). Replaced parts stay pinned-readable
    * under older snapshots until [[expireSnapshots]] GCs them, exactly like
    * rollback orphans. Guards: replaced must be live (replacing a part the
    * current snapshot doesn't have is a caller bug), appended must be FRESH
    * ids never referenced by any manifest (reusing an id would mix rows
    * into retired data dirs). */
  def commitReplacing(table: String, replaced: Set[Int], appended: Seq[Int],
                      appendedStats: Map[Int, PartKeyStats] = Map.empty,
                      clearDeleteFiles: Boolean = false): Snapshot = {
    val cur = currentSnapshotId(table).getOrElse(
      throw new IllegalArgumentException(s"commitReplacing: no snapshots at $table"))
    val curSnap = readManifest(table, cur)
    val live = curSnap.parts.toSet
    val notLive = replaced -- live
    require(notLive.isEmpty,
      s"commitReplacing: parts ${notLive.toSeq.sorted.mkString(",")} are not in " +
        s"the current snapshot $cur - nothing to replace")
    val historical: Set[Int] =
      manifestIds(table).flatMap(readManifest(table, _).parts).toSet
    val reuse = appended.toSet.intersect(historical)
    require(reuse.isEmpty,
      s"commitReplacing: appended parts ${reuse.toSeq.sorted.mkString(",")} were " +
        "already referenced by a manifest - copy-on-write rewrites must use fresh ids")
    val parts = ((live -- replaced) ++ appended).toSeq.sorted
    // surviving parts keep their stats; replaced parts' stats drop out;
    // appended parts carry stats only when the caller supplied them
    // (stat-less parts are always pruning candidates — sound, just coarse)
    val stats = (curSnap.partStats -- replaced) ++
      appendedStats.view.filterKeys(appended.toSet).toMap
    val id = cur + 1L
    // COW rewrites of SOME parts leave pending MOR deletes in force for the
    // rest; only a caller that physically applied them everywhere
    // (materializeDeletes) clears the list
    val dels = if (clearDeleteFiles) Seq.empty else curSnap.deleteFiles
    val snap = Snapshot(id, parts, System.currentTimeMillis(), stats,
      curSnap.schemaJson, dels)
    writeManifest(table, id, parts, snap.createdAtMs, stats, curSnap.schemaJson,
      dels)
    snap
  }

  /** Parts a key-range probe must touch (E31): every part whose manifest
    * [min, max] intersects [lo, hi], PLUS every part without stats (unknown
    * range — must be scanned; sound either way, pruning is only ever an
    * optimization). Pure driver arithmetic over the manifest. */
  def partsForKeyRange(snap: Snapshot, lo: String, hi: String): Seq[Int] =
    snap.parts.filter { p =>
      snap.partStats.get(p) match {
        case Some(s) => s.min <= hi && lo <= s.max
        case None => true
      }
    }

  /** Snapshot-pinned read PRUNED to a key range (E31 read side): only parts
    * whose manifest [min, max] intersects [lo, hi] — plus stat-less parts,
    * which must stay candidates — reach the scan's partition filter; the
    * key predicate itself is pushed too, so parquet row-group stats prune
    * WITHIN the surviving parts. On a key-clustered table a point lookup
    * plans against O(1) of 10^5 parts from the manifest alone: only the
    * surviving part dirs are listed, zero footer reads, zero jobs before
    * the one pruned scan. */
  def readKeyRange(spark: SparkSession, table: String, snapshotId: Long,
                   keyCol: String, lo: String, hi: String): DataFrame = {
    require(lo <= hi, s"readKeyRange: lo '$lo' > hi '$hi'")
    val snap = readManifest(table, snapshotId)
    val parts = partsForKeyRange(snap, lo, hi)
    // the part filter selects nothing the addressed dirs do not already; it
    // names the surviving parts in the scan's PartitionFilters, so EXPLAIN
    // shows what the manifest pruned
    applyDeletes(spark, table,
      readParts(spark, table, parts, schemaOf(snap))
        .filter(col("part").isin(parts: _*))
        .filter(col(keyCol) >= lo && col(keyCol) <= hi),
      snap.deleteFiles)
  }

  /** Highest part id visible anywhere — every manifest ever written PLUS the
    * data/ directory names (crash leftovers from a write that died before
    * its manifest commit are real dirs a fresh id must not collide with).
    * Driver-grain FS metadata; never reads file contents. */
  def maxKnownPart(table: String): Int = {
    val manifestMax = manifestIds(table)
      .flatMap(readManifest(table, _).parts).foldLeft(-1)(math.max)
    val dirMax = dataPartDirs(table).foldLeft(-1)(math.max)
    math.max(manifestMax, dirMax)
  }

  private def writeManifest(table: String, id: Long, parts: Seq[Int],
                            createdAtMs: Long,
                            stats: Map[Int, PartKeyStats] = Map.empty,
                            schemaJson: Option[String] = None,
                            deleteFiles: Seq[String] = Seq.empty): Unit = {
    Files.createDirectories(snapDir(table))
    val statsJson =
      if (stats.isEmpty) ""
      else stats.toSeq.sortBy(_._1).map { case (p, s) =>
        s""""$p":["${s.min}","${s.max}",${s.rows}]"""
      }.mkString(""","part_stats":{""", ",", "}")
    // delete-file names are engine-generated (`del-<id>`) — enforce the
    // safe-charset so the regex parse can never be corrupted
    deleteFiles.foreach(n => require(SafeKey.pattern.matcher(n).matches(),
      s"writeManifest: unsafe delete-file name '$n'"))
    val delJson =
      if (deleteFiles.isEmpty) ""
      else deleteFiles.map(n => s""""$n"""")
        .mkString(""","delete_files":[""", ",", "]")
    // the schema rides LAST as a raw nested JSON object (StructType.json is
    // valid JSON), so the prefix fields keep their simple regex extraction
    val schemaPart = schemaJson.map(js => s""","schema":$js""").getOrElse("")
    val json =
      s"""{"snapshot_id":$id,"created_at_ms":$createdAtMs,"parts":[${parts.mkString(",")}]$statsJson$delJson$schemaPart}"""
    val tmp = snapDir(table).resolve(s".v$id.json.tmp")
    Files.write(tmp, json.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, snapDir(table).resolve(s"v$id.json"),
      StandardCopyOption.ATOMIC_MOVE)
  }

  /** Roll the table back to `toSnapshotId`'s state by committing a NEW
    * manifest (current+1) with the target's part set — Iceberg
    * `rollback_to_snapshot` semantics: history is never rewritten, the
    * rolled-past snapshots stay pinned-readable, and the parts they
    * introduced become orphans that [[expireSnapshots]] later GCs. */
  def rollbackTo(table: String, toSnapshotId: Long): Snapshot = {
    val ids = manifestIds(table)
    require(ids.contains(toSnapshotId),
      s"rollbackTo: snapshot $toSnapshotId does not exist (have ${ids.mkString(",")})")
    val target = readManifest(table, toSnapshotId)
    val id = ids.max + 1
    val snap = Snapshot(id, target.parts, System.currentTimeMillis(),
      target.partStats, target.schemaJson, target.deleteFiles)
    writeManifest(table, id, target.parts, snap.createdAtMs, target.partStats,
      target.schemaJson, target.deleteFiles)
    snap
  }

  /** One row of the table-history audit surface (E36). */
  case class HistoryEntry(
      snapshot_id: Long, created_at_ms: Long, n_parts: Int,
      added_parts: Seq[Int], removed_parts: Seq[Int],
      known_rows: Option[Long], schema_changed: Boolean, tags: Seq[String])

  /** The table's commit history as a DataFrame — Iceberg's `history` /
    * `snapshots` metadata tables folded into one audit surface: per
    * snapshot, the parts it added/removed vs its parent, the exact row
    * count when every live part carries manifest key stats (None otherwise
    * — stat-less parts make the total unknowable without a scan, and an
    * audit surface must not silently plan one), whether the schema changed,
    * and the tag names pinning it. Pure driver metadata: O(snapshots ×
    * parts) manifest reads, zero jobs at any table size. */
  def history(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    val snaps = manifestIds(table).map(readManifest(table, _))
    val tagsById = tags(table).toSeq.groupBy(_._2)
      .map { case (id, kvs) => id -> kvs.map(_._1).sorted }
    val entries = snaps.zip(None +: snaps.map(Some(_))).map {
      case (s, parent) =>
        val pParts = parent.map(_.parts.toSet).getOrElse(Set.empty[Int])
        HistoryEntry(
          snapshot_id = s.snapshotId,
          created_at_ms = s.createdAtMs,
          n_parts = s.parts.size,
          added_parts = s.parts.filterNot(pParts).sorted,
          removed_parts = (pParts -- s.parts.toSet).toSeq.sorted,
          known_rows =
            if (s.parts.forall(s.partStats.contains))
              Some(s.parts.map(s.partStats(_).rows).sum)
            else None,
          schema_changed = parent.exists(_.schemaJson != s.schemaJson),
          tags = tagsById.getOrElse(s.snapshotId, Seq.empty))
    }
    spark.createDataset(entries).toDF()
  }

  // ---- named refs (E34): tags pin snapshots, like Iceberg table refs ----

  private def refsDir(table: String): Path = Paths.get(table, "_refs")

  private def validRefName(name: String): Boolean =
    name.nonEmpty && name.length <= 128 && name.forall(c =>
      c.isLetterOrDigit || c == '.' || c == '_' || c == '-')

  /** Create (or with `replace=true`, move) a named tag pointing at an
    * existing snapshot. A tagged snapshot is EXEMPT from [[expireSnapshots]]
    * retention — the tag is a pin, exactly like an Iceberg tag ref: audit
    * snapshots ("q3-training-cut") survive routine expiry until the tag is
    * dropped. Atomic write (tmp + move) like the manifests. */
  def tag(table: String, name: String, snapshotId: Long,
          replace: Boolean = false): Unit = {
    require(validRefName(name),
      s"tag: name '$name' must be 1-128 chars of [A-Za-z0-9._-]")
    require(manifestIds(table).contains(snapshotId),
      s"tag: snapshot $snapshotId does not exist at $table")
    val f = refsDir(table).resolve(s"$name.json")
    require(replace || !Files.exists(f),
      s"tag: '$name' already exists (points at ${tags(table)(name)}) - " +
        "pass replace=true to move it")
    Files.createDirectories(refsDir(table))
    val tmp = refsDir(table).resolve(s".$name.json.tmp")
    Files.write(tmp,
      s"""{"name":"$name","snapshot_id":$snapshotId,"created_at_ms":${System.currentTimeMillis()}}"""
        .getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, f, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** All tags: name → snapshot id. */
  def tags(table: String): Map[String, Long] = {
    val dir = refsDir(table)
    listNames(dir)
      .collect { case s if s.endsWith(".json") && !s.startsWith(".") =>
        val raw = new String(
          Files.readAllBytes(dir.resolve(s)), StandardCharsets.UTF_8)
        val id = "\"snapshot_id\":([0-9]+)".r.findFirstMatchIn(raw)
          .map(_.group(1).toLong)
          .getOrElse(sys.error(s"tags: malformed ref file $s"))
        s.stripSuffix(".json") -> id
      }.toMap
  }

  def dropTag(table: String, name: String): Unit = {
    val f = refsDir(table).resolve(s"$name.json")
    require(Files.exists(f), s"dropTag: no tag '$name' at $table")
    Files.delete(f)
  }

  /** Snapshot-pinned read through a tag name. */
  def readTag(spark: SparkSession, table: String, name: String): DataFrame = {
    val id = tags(table).getOrElse(name,
      throw new IllegalArgumentException(
        s"readTag: no tag '$name' at $table (have ${tags(table).keys.toSeq.sorted.mkString(",")})"))
    read(spark, table, id)
  }

  /** Time travel by wall clock (E34): the latest snapshot whose commit time
    * is ≤ `tsMs` — Iceberg's `FOR TIMESTAMP AS OF`. Commits in the same
    * millisecond resolve to the higher id (commit order). None when the
    * table has no snapshot that old. */
  def snapshotAsOf(table: String, tsMs: Long): Option[Long] =
    manifestIds(table).map(readManifest(table, _))
      .filter(_.createdAtMs <= tsMs)
      .sortBy(s => (s.createdAtMs, s.snapshotId))
      .lastOption.map(_.snapshotId)

  /** Snapshot-pinned read as of a wall-clock timestamp. */
  def readAsOf(spark: SparkSession, table: String, tsMs: Long): DataFrame = {
    val id = snapshotAsOf(table, tsMs).getOrElse(
      throw new IllegalArgumentException(
        s"readAsOf: no snapshot at or before $tsMs at $table " +
          s"(oldest is ${manifestIds(table).headOption.map(readManifest(table, _).createdAtMs)})"))
    read(spark, table, id)
  }

  /** Expire every snapshot older than the newest `keepLast` manifests:
    * their manifest files are deleted, and any part directory no longer
    * referenced by a RETAINED manifest is GC'd (orphan cleanup — the only
    * way data ever leaves the table, exactly like Iceberg's
    * expire_snapshots + orphan-file removal). TAGGED snapshots (E34) are
    * always retained regardless of age — a tag is a pin; drop the tag to
    * let expiry take the snapshot. Returns
    * (expiredSnapshotIds, removedPartDirs). Retained reads are untouched;
    * reading an expired id fails loud (its manifest is gone). */
  def expireSnapshots(table: String, keepLast: Int): (Seq[Long], Seq[Int]) = {
    require(keepLast >= 1, s"expireSnapshots: keepLast must be >= 1, got $keepLast")
    val ids = manifestIds(table)
    require(ids.nonEmpty, s"expireSnapshots: no snapshots at $table")
    val tagged = tags(table).values.toSet
    val (old, recent) = ids.splitAt(math.max(0, ids.size - keepLast))
    val expire = old.filterNot(tagged)
    val retain = recent ++ old.filter(tagged)
    val retainedParts = retain.flatMap(readManifest(table, _).parts).toSet
    val expiredParts = expire.flatMap(readManifest(table, _).parts).toSet
    val gcParts = (expiredParts -- retainedParts).toSeq.sorted
    gcParts.foreach { p =>
      val dir = Paths.get(table, "data", s"part=$p")
      if (Files.exists(dir))
        Files.walk(dir).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    }
    expire.foreach(i => Files.deleteIfExists(snapDir(table).resolve(s"v$i.json")))
    // MOR delete-set GC: a `_deletes/<name>` dir referenced by NO retained
    // manifest can never be read again (same rule as orphan part dirs) —
    // covers both expired-away sets and crash orphans whose manifest was
    // never committed
    val retainedDels = retain.flatMap(readManifest(table, _).deleteFiles).toSet
    listNames(deletesDir(table)).filterNot(retainedDels).foreach { n =>
      val dir = deletesDir(table).resolve(n)
      if (Files.exists(dir))
        Files.walk(dir).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    }
    (expire, gcParts)
  }

  def currentSnapshotId(table: String): Option[Long] = {
    val ids = manifestIds(table)
    if (ids.isEmpty) None else Some(ids.max)
  }

  def readManifest(table: String, snapshotId: Long): Snapshot = {
    val raw = new String(
      Files.readAllBytes(snapDir(table).resolve(s"v$snapshotId.json")),
      StandardCharsets.UTF_8)
    val parts = "\"parts\":\\[([0-9,]*)\\]".r.findFirstMatchIn(raw)
      .map(_.group(1)).filter(_.nonEmpty)
      .map(_.split(",").map(_.toInt).toSeq).getOrElse(Seq.empty)
    val created = "\"created_at_ms\":([0-9]+)".r.findFirstMatchIn(raw)
      .map(_.group(1).toLong).getOrElse(0L)
    // stats entries live inside "part_stats":{...} which precedes the
    // (schema-carrying) tail — bound the match region so schema JSON can
    // never be misread as stats
    val statsRegion = raw.indexOf("\"part_stats\":") match {
      case -1 => ""
      case i => raw.substring(i, raw.indexOf('}', i) + 1)
    }
    val stats = "\"([0-9]+)\":\\[\"([^\"]*)\",\"([^\"]*)\",([0-9]+)\\]".r
      .findAllMatchIn(statsRegion).map(m =>
        m.group(1).toInt -> PartKeyStats(m.group(2), m.group(3), m.group(4).toLong))
      .toMap
    // schema is the raw JSON object from `"schema":` to the manifest's
    // closing brace (it is always the LAST field when present)
    val schema = raw.indexOf("\"schema\":") match {
      case -1 => None
      case i => Some(raw.substring(i + "\"schema\":".length, raw.length - 1))
    }
    // delete_files precedes the schema tail — bound the match region so a
    // schema field named like it can never be misread
    val preSchema = raw.indexOf("\"schema\":") match {
      case -1 => raw
      case i => raw.substring(0, i)
    }
    val deletes = "\"delete_files\":\\[([^\\]]*)\\]".r.findFirstMatchIn(preSchema)
      .map(_.group(1)).filter(_.nonEmpty)
      .map(_.split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).toSeq)
      .getOrElse(Seq.empty)
    Snapshot(snapshotId, parts, created, stats, schema, deletes)
  }

  /** The snapshot's table schema (E32); None on pre-schema manifests. */
  private def schemaOf(snap: Snapshot): Option[StructType] =
    snap.schemaJson.map(DataType.fromJson(_).asInstanceOf[StructType])

  /** A frame over exactly the named part dirs: `<table>/data/part=<p>` for
    * each listed part whose dir exists, with `basePath` at `<table>/data`
    * so `part` stays a column. `<table>/data` itself is never listed, so
    * the cost is O(named parts) whatever else the table holds. With a
    * schema no footer is read to infer one. With no dirs the frame is
    * empty under the schema (`part` last, as a file read orders it) and
    * nothing is listed. */
  private[engine] def readParts(spark: SparkSession, table: String,
                                parts: Seq[Int],
                                schema: Option[StructType]): DataFrame = {
    val dirs = parts.distinct.sorted
      .map(p => Paths.get(table, "data", s"part=$p"))
      .filter(Files.isDirectory(_)).map(_.toString)
    if (dirs.isEmpty) {
      // a file read of no paths: nullability as any file read gives it
      val s = schema.getOrElse(new StructType().add("part", IntegerType))
      spark.read.schema(s).parquet()
        .select((s.fieldNames.filterNot(_ == "part") :+ "part").map(col): _*)
    } else schema.fold(spark.read)(spark.read.schema)
      .option("basePath", Paths.get(table, "data").toString)
      .parquet(dirs: _*)
  }

  /** Snapshot-pinned read: only the part dirs the manifest names are
    * addressed, and `<table>/data` is never listed (see [[readParts]]); a
    * manifest part without a dir reads as zero rows. `parts` narrows the
    * read to a subset of the snapshot's parts (a WAP gate reads just its
    * batch's); a part outside the snapshot fails loudly. Reads under the
    * SNAPSHOT'S schema when the manifest carries one (E32): columns added
    * by later evolution project as null over files written before them,
    * and every reader of a snapshot sees the same columns regardless of
    * which footer Spark would have sampled. Pending MOR deletes apply. */
  def read(spark: SparkSession, table: String, snapshotId: Long,
           parts: Option[Seq[Int]] = None): DataFrame = {
    val snap = readManifest(table, snapshotId)
    val outside = parts.getOrElse(Seq.empty).filterNot(snap.parts.toSet)
    require(outside.isEmpty,
      s"read: parts ${outside.distinct.sorted.mkString(",")} are not in " +
        s"snapshot $snapshotId (it has ${snap.parts.mkString(",")})")
    applyDeletes(spark, table,
      readParts(spark, table, parts.getOrElse(snap.parts), schemaOf(snap)),
      snap.deleteFiles)
  }

  private def deletesDir(table: String): Path = Paths.get(table, "_deletes")

  /** MERGE-ON-READ application: anti-join each pending delete set on its
    * own (single) key column. Delete sets are bounded per [[commitDeletes]]
    * call (a correction batch, not a table scan), so at 10^12 rows the
    * anti-join's build side stays small and AQE broadcasts it; the data
    * side never re-shuffles. Readers pay this only while deletes are
    * pending — [[materializeDeletes]] folds them into a COW rewrite and
    * clears the list. */
  private def applyDeletes(spark: SparkSession, table: String, df: DataFrame,
                           deleteFiles: Seq[String]): DataFrame =
    deleteFiles.foldLeft(df) { (acc, name) =>
      val del = spark.read.parquet(deletesDir(table).resolve(name).toString)
      require(del.columns.length == 1,
        s"applyDeletes: delete set $name must carry exactly one key column, " +
          s"has ${del.columns.mkString(",")}")
      acc.join(del, Seq(del.columns.head), "left_anti")
    }

  /** Commit a MERGE-ON-READ delete set (Iceberg v2 equality deletes): the
    * distinct non-null `keyCol` values of `keys` are written to
    * `_deletes/del-<newSnapshotId>` and a new snapshot is cut whose part
    * set, stats, and schema are UNCHANGED — no data rewrite happens, every
    * read of the new snapshot (and later appends) anti-joins the set, and
    * time travel to earlier snapshots still sees the rows. This is the
    * O(delete batch) delete path a 10^12-row table needs when corrections
    * arrive faster than COW rewrites amortize; [[Merge.merge]] remains the
    * COW path, [[materializeDeletes]] converts pending sets into one. */
  def commitDeletes(table: String, keys: DataFrame, keyCol: String): Snapshot = {
    val cur = currentSnapshotId(table).getOrElse(
      throw new IllegalArgumentException(s"commitDeletes: no snapshots at $table"))
    val curSnap = readManifest(table, cur)
    require(keys.columns.contains(keyCol),
      s"commitDeletes: keys must carry $keyCol, has ${keys.columns.mkString(",")}")
    curSnap.schemaJson.foreach { js =>
      val cols = org.apache.spark.sql.types.DataType.fromJson(js)
        .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames
      require(cols.contains(keyCol),
        s"commitDeletes: $keyCol is not a column of the table schema " +
          s"(${cols.mkString(",")})")
    }
    val id = cur + 1L
    val name = s"del-$id"
    keys.select(org.apache.spark.sql.functions.col(keyCol))
      .filter(org.apache.spark.sql.functions.col(keyCol).isNotNull)
      .distinct()
      .write.mode("overwrite").parquet(deletesDir(table).resolve(name).toString)
    val dels = curSnap.deleteFiles :+ name
    val snap = Snapshot(id, curSnap.parts, System.currentTimeMillis(),
      curSnap.partStats, curSnap.schemaJson, dels)
    writeManifest(table, id, curSnap.parts, snap.createdAtMs, curSnap.partStats,
      curSnap.schemaJson, dels)
    snap
  }

  /** Fold every pending MOR delete set into a physical COW rewrite and cut
    * a snapshot with NO delete files: affected parts (manifest key-stats
    * pruned, then one slim detection scan — the [[Merge.merge]] shape) are
    * rewritten under fresh ids with the deleted keys dropped; untouched
    * parts are shared structurally. Older snapshots keep reading the
    * replaced dirs AND their own delete lists, so time travel across the
    * materialization is exact. No-op (current snapshot returned) when no
    * deletes are pending. All pending sets must share one key column. */
  def materializeDeletes(spark: SparkSession, table: String,
                         codec: String = "zstd"): Snapshot = {
    import org.apache.spark.sql.functions.{broadcast, col, max => smax, min => smin}
    val cur = currentSnapshotId(table).getOrElse(
      throw new IllegalArgumentException(s"materializeDeletes: no snapshots at $table"))
    val curSnap = readManifest(table, cur)
    if (curSnap.deleteFiles.isEmpty) return curSnap
    val sets = curSnap.deleteFiles.map(n =>
      spark.read.parquet(deletesDir(table).resolve(n).toString))
    val keyCols = sets.map(_.columns.toSeq).distinct
    require(keyCols.size == 1 && keyCols.head.size == 1,
      s"materializeDeletes: pending delete sets disagree on key columns " +
        s"($keyCols) — materialize requires one shared key")
    val keyCol = keyCols.head.head
    val allKeys = sets.reduce(_.union(_)).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // manifest key-stats pruning, then one slim (key, part) detection scan
      val target = readParts(spark, table, curSnap.parts, schemaOf(curSnap))
      val candidates: Seq[Int] =
        if (curSnap.partStats.isEmpty ||
            target.schema(keyCol).dataType != org.apache.spark.sql.types.StringType)
          curSnap.parts
        else {
          val r = allKeys.agg(smin(col(keyCol)).as("lo"), smax(col(keyCol)).as("hi"))
            .collect()(0)
          if (r.isNullAt(0)) Seq.empty
          else partsForKeyRange(curSnap, r.getString(0), r.getString(1))
        }
      val affected =
        if (candidates.isEmpty) Seq.empty[Int]
        else target.filter(col("part").isin(candidates: _*))
          .select(col(keyCol), col("part"))
          .join(broadcast(allKeys), Seq(keyCol), "left_semi")
          .select("part").distinct().collect().map(_.getInt(0)).toSeq.sorted
      if (affected.isEmpty)
        // nothing matched: the sets were already no-ops — just clear them
        return commitReplacing(table, Set.empty, Seq.empty,
          clearDeleteFiles = true)
      val base = maxKnownPart(table) + 1
      val rewriteMap = affected.zipWithIndex
        .map { case (p, i) => p -> (base + i) }.toMap
      val remap = org.apache.spark.sql.functions.typedlit(rewriteMap)
      target.filter(col("part").isin(affected: _*))
        .join(broadcast(allKeys), Seq(keyCol), "left_anti")
        .withColumn("part",
          org.apache.spark.sql.functions.element_at(remap, col("part")))
        .write.mode("append").option("compression", codec)
        .partitionBy("part").parquet(s"$table/data")
      val freshIds = rewriteMap.values.toSeq.sorted
      val freshStats =
        if (target.schema(keyCol).dataType != org.apache.spark.sql.types.StringType)
          Map.empty[Int, PartKeyStats]
        else keyStatsOf(readParts(spark, table, freshIds, Some(target.schema))
          .select(col(keyCol), col("part")), keyCol)
      commitReplacing(table, affected.toSet, freshIds, freshStats,
        clearDeleteFiles = true)
    } finally allKeys.unpersist(blocking = false)
  }
}
