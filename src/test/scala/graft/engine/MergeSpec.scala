package graft.engine

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.model.{DocsGen, PartSpec}

/** Copy-on-write MERGE (E29): upsert + delete against the current snapshot,
  * rewriting only affected parts; pinned reads across the merge; guards. */
class MergeSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestBase.spark
  import spark.implicits._

  /** 3-part table; returns (table path, snapshot). */
  private def freshTable(): (String, SnapshotCatalog.Snapshot) = {
    val tmp = Files.createTempDirectory("merge").toString
    val docs = DocsGen.docs(spark, 100, Seq(PartSpec(0)))
      .unionByName(DocsGen.docs(spark, 120, Seq(PartSpec(1))))
      .unionByName(DocsGen.docs(spark, 140, Seq(PartSpec(2))))
    val s = SnapshotCatalog.commit(s"$tmp/t", docs)
    (s"$tmp/t", s)
  }

  private def ids(df: org.apache.spark.sql.DataFrame) =
    df.select("doc_id").as[String].collect().toSet

  test("merge: upsert replaces, insert lands, delete removes; untouched parts shared") {
    val (table, s1) = freshTable()
    val before = SnapshotCatalog.read(spark, table, s1.snapshotId)

    // update 5 docs of part 0 (whole-row replace: spans swapped for a marker
    // span), insert 3 new docs, delete 4 docs of part 2; part 1 untouched
    val updIds = before.filter($"part" === 0).select("doc_id")
      .as[String].collect().sorted.take(5)
    val delIds = before.filter($"part" === 2).select("doc_id")
      .as[String].collect().sorted.take(4)
    val marker = array(struct(lit("text").as("kind"),
      lit("updated").as("text"), lit(null: String).as("media_ref"),
      lit(0).as("offset")))
    val dataCols = before.columns.filterNot(_ == "part")
    val updates = before.filter($"doc_id".isin(updIds: _*))
      .select(dataCols.map(col): _*).withColumn("spans", marker)
    val inserts = spark.range(3).select(
      format_string("new-%03d", $"id").as("doc_id"), marker.as("spans"))
      .select(dataCols.map(col): _*)
    val source = updates.unionByName(inserts)
    val deletes = delIds.toSeq.toDF("doc_id")

    val r = Merge.merge(spark, table, source, deletes)
    assert(!r.noop)
    // affected: parts 0 (updates) and 2 (deletes); part 1 survives verbatim
    assert(r.rewrittenParts.keySet == Set(0, 2))
    assert(r.insertPart.isDefined)
    assert(r.snapshot.parts.contains(1) && !r.snapshot.parts.contains(0)
      && !r.snapshot.parts.contains(2))

    val after = SnapshotCatalog.read(spark, table, r.snapshot.snapshotId)
    assert(after.count() == 100 + 120 + 140 - 4 + 3) // deletes out, inserts in
    assert(ids(after.filter($"doc_id".isin(delIds: _*))).isEmpty)
    assert(ids(after).intersect(Set("new-000", "new-001", "new-002")).size == 3)
    // updated docs carry the replacement spans (and live in the insert part)
    val upd = after.filter($"doc_id".isin(updIds: _*))
    assert(upd.count() == 5)
    assert(upd.filter(element_at($"spans", 1).getField("text") === "updated")
      .count() == 5)
    assert(upd.select("part").distinct().as[Int].collect().toSeq ==
      Seq(r.insertPart.get))
    // non-matched rows of the rewritten parts are bit-identical to before
    // (part column dropped — the id moved, the payload must not)
    val untouched = before.filter($"part".isin(0, 2) &&
      !$"doc_id".isin((updIds ++ delIds): _*)).drop("part")
    val rewritten = after.filter($"part".isin(r.rewrittenParts.values.toSeq: _*))
      .drop("part")
    assert(ids(untouched) == ids(rewritten))
    assert(untouched.exceptAll(rewritten).count() == 0
      && rewritten.exceptAll(untouched).count() == 0)

    // PINNED ISOLATION: the old snapshot still reads every original row
    val pinned = SnapshotCatalog.read(spark, table, s1.snapshotId)
    assert(pinned.count() == 360)
    assert(ids(pinned.filter($"doc_id".isin(delIds: _*))).size == 4)
    assert(pinned.filter($"doc_id".isin(updIds: _*))
      .filter(element_at($"spans", 1).getField("text") === "updated").count() == 0)

    // untouched part's data dir was not rewritten (same file set)
    val p1dir = java.nio.file.Paths.get(table, "data", "part=1")
    assert(Files.exists(p1dir))
  }

  test("merge: broadcast and shuffled key paths produce identical snapshots") {
    val (tableA, _) = freshTable()
    val (tableB, _) = freshTable()
    val mk = (t: String) => {
      val before = SnapshotCatalog.read(spark, t,
        SnapshotCatalog.currentSnapshotId(t).get)
      val upd = before.filter($"part" === 1).limit(7)
        .select(before.columns.filterNot(_ == "part").map(col): _*)
      val del = before.filter($"part" === 0).select("doc_id").limit(5)
      (upd, del)
    }
    val (srcA, delA) = mk(tableA)
    val (srcB, delB) = mk(tableB)
    val rA = Merge.merge(spark, tableA, srcA, delA, broadcastKeys = Some(true))
    val rB = Merge.merge(spark, tableB, srcB, delB, broadcastKeys = Some(false))
    val a = SnapshotCatalog.read(spark, tableA, rA.snapshot.snapshotId)
    val b = SnapshotCatalog.read(spark, tableB, rB.snapshot.snapshotId)
    assert(ids(a) == ids(b) && a.count() == b.count())
    assert(rA.rewrittenParts.keySet == rB.rewrittenParts.keySet)
  }

  test("merge guards: dup source keys, upsert+delete overlap, schema, empty table") {
    val (table, _) = freshTable()
    val before = SnapshotCatalog.read(spark, table, 1L)
    val dataCols = before.columns.filterNot(_ == "part")
    val one = before.limit(1).select(dataCols.map(col): _*)
    val dupSrc = one.unionByName(one)
    intercept[IllegalArgumentException](
      Merge.merge(spark, table, dupSrc, Seq.empty[String].toDF("doc_id")))
    val k = one.select("doc_id")
    intercept[IllegalArgumentException](
      Merge.merge(spark, table, one, k.toDF("doc_id")))
    intercept[IllegalArgumentException](
      Merge.merge(spark, table, one.drop("spans"), k.limit(0)))
    intercept[IllegalArgumentException](
      Merge.merge(spark, "/tmp/does-not-exist-merge", one, k.limit(0)))
  }

  test("merge: delete matching nothing + empty source is a no-op (no snapshot cut)") {
    val (table, s1) = freshTable()
    val empty = SnapshotCatalog.read(spark, table, s1.snapshotId)
      .filter(lit(false))
    val src = empty.select(empty.columns.filterNot(_ == "part").map(col): _*)
    val r = Merge.merge(spark, table, src,
      Seq("ghost-1", "ghost-2").toDF("doc_id"))
    assert(r.noop && r.snapshot.snapshotId == s1.snapshotId)
    assert(SnapshotCatalog.currentSnapshotId(table).contains(s1.snapshotId))
  }

  test("merge: delete-only merge that empties a whole part; expiry GCs replaced dirs") {
    val (table, s1) = freshTable()
    val before = SnapshotCatalog.read(spark, table, s1.snapshotId)
    val allPart0 = before.filter($"part" === 0).select("doc_id")
    val src = before.filter(lit(false))
      .select(before.columns.filterNot(_ == "part").map(col): _*)
    val r = Merge.merge(spark, table, src, allPart0)
    assert(r.insertPart.isEmpty && r.rewrittenParts.keySet == Set(0))
    val after = SnapshotCatalog.read(spark, table, r.snapshot.snapshotId)
    assert(after.count() == 260 && after.filter($"part" === 0).count() == 0)

    // expire the pre-merge snapshot: part 0's original dir is GC'd, the
    // (possibly file-less) rewritten id and untouched parts survive
    val (expired, gone) = SnapshotCatalog.expireSnapshots(table, keepLast = 1)
    assert(expired == Seq(s1.snapshotId) && gone == Seq(0))
    assert(!Files.exists(java.nio.file.Paths.get(table, "data", "part=0")))
    assert(SnapshotCatalog.read(spark, table, r.snapshot.snapshotId).count() == 260)
  }

  test("manifest key stats (E31): commit records them, key range prunes, merge keeps them fresh") {
    val (table, s1) = freshTable()
    // DocsGen ids are doc-<part>-<lid>: per-part ranges are disjoint
    val st = s1.partStats
    assert(st.keySet == Set(0, 1, 2))
    assert(st(0).rows == 100 && st(1).rows == 120 && st(2).rows == 140)
    assert(st(0).min.startsWith("doc-000-") && st(0).max.startsWith("doc-000-"))
    assert(st(1).min > st(0).max && st(2).min > st(1).max)
    // range probe: a part-1-only key range touches exactly part 1
    assert(SnapshotCatalog.partsForKeyRange(s1, st(1).min, st(1).min) == Seq(1))
    assert(SnapshotCatalog.partsForKeyRange(s1, st(0).min, st(2).max) == Seq(0, 1, 2))
    // a part WITHOUT stats is always a candidate
    val noStats = s1.copy(partStats = st - 2)
    assert(SnapshotCatalog.partsForKeyRange(noStats, st(1).min, st(1).min) == Seq(1, 2))

    // a merge whose keys live only in part 1 scans ONLY part 1...
    val before = SnapshotCatalog.read(spark, table, s1.snapshotId)
    val upd = before.filter($"part" === 1).limit(6)
      .select(before.columns.filterNot(_ == "part").map(col): _*)
    val r = Merge.merge(spark, table, upd, Seq.empty[String].toDF("doc_id"))
    assert(r.candidateParts == Seq(1))
    assert(r.rewrittenParts.keySet == Set(1))
    // ...and the snapshot it cuts carries stats for every part, fresh ones
    // included (pruning stays sharp across merges)
    assert(r.snapshot.partStats.keySet == r.snapshot.parts.toSet)
    val rewritten = r.snapshot.partStats(r.rewrittenParts(1))
    assert(rewritten.rows == 114) // 120 minus the 6 upserted (moved to insert part)
    assert(rewritten.min.startsWith("doc-001-"))
    assert(r.snapshot.partStats(r.insertPart.get).rows == 6)
    // the same upsert against a manifest stripped of key stats scans every
    // part and leaves the same rows: pruning changes the cost, not the result
    val (tableB, sB) = freshTable()
    val manifestB = java.nio.file.Paths.get(tableB, "_snapshots", s"v${sB.snapshotId}.json")
    Files.writeString(manifestB,
      Files.readString(manifestB).replaceFirst(""","part_stats":\{[^}]*\}""", ""))
    assert(SnapshotCatalog.readManifest(tableB, sB.snapshotId).partStats.isEmpty)
    val updB = SnapshotCatalog.read(spark, table, r.snapshot.snapshotId)
      .filter($"part" === r.insertPart.get).drop("part")
    val rB = Merge.merge(spark, tableB, updB, Seq.empty[String].toDF("doc_id"))
    assert(rB.candidateParts == Seq(0, 1, 2))
    def rowsOf(t: String, id: Long) = SnapshotCatalog.read(spark, t, id).drop("part")
      .collect().map(_.toString).sorted.toSeq
    assert(rowsOf(tableB, rB.snapshot.snapshotId) == rowsOf(table, r.snapshot.snapshotId))
    // rollback carries stats through
    val rb = SnapshotCatalog.rollbackTo(table, s1.snapshotId)
    assert(rb.partStats == s1.partStats)
  }

  test("commit refuses to auto-adopt un-manifested part dirs predating the write " +
    "(crash leftovers of an interrupted merge)") {
    val (table, s1) = freshTable()
    // simulate an interrupted Merge: a rewritten copy of part 0's rows
    // landed in a fresh dir but the manifest commit never happened
    DocsGen.docs(spark, 100, Seq(PartSpec(0))).withColumn("part", lit(77))
      .write.mode("append").partitionBy("part").parquet(s"$table/data")
    // auto-discovery must fail loud BEFORE writing anything (no new bytes
    // land from a refused commit), not silently re-introduce the rows
    val dirsBefore = new java.io.File(s"$table/data").list().toSet
    val ex = intercept[IllegalArgumentException](
      SnapshotCatalog.commit(table, DocsGen.docs(spark, 50, Seq(PartSpec(5)))))
    assert(ex.getMessage.contains("77") && ex.getMessage.contains("BEFORE"),
      ex.getMessage)
    assert(new java.io.File(s"$table/data").list().toSet == dirsBefore)
    // explicit appendedParts still commits (the caller asserts its ids) and
    // the orphan dir stays un-adopted
    val s2 = SnapshotCatalog.commit(table,
      DocsGen.docs(spark, 50, Seq(PartSpec(5))), appendedParts = Some(Seq(5)))
    assert(s2.parts == Seq(0, 1, 2, 5) && !s2.parts.contains(77))
    // key stats for the appended part come from the bytes on disk
    assert(s2.partStats.contains(5) && s2.partStats(5).rows == 50L)
  }

  test("commitReplacing guards: non-live replaced, reused appended id") {
    val (table, s1) = freshTable()
    intercept[IllegalArgumentException](
      SnapshotCatalog.commitReplacing(table, Set(99), Seq(100)))
    intercept[IllegalArgumentException](
      SnapshotCatalog.commitReplacing(table, Set(0), Seq(1))) // 1 is historical
    // legal: replace part 0 by a fresh empty id (metadata-only delete)
    val s2 = SnapshotCatalog.commitReplacing(table, Set(0), Seq(50))
    assert(s2.parts == Seq(1, 2, 50) && s2.snapshotId == s1.snapshotId + 1)
  }
}
