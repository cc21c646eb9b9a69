package graft.checks

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{RunConfig, ValidationRun}
import graft.model.DocsGen

/** The golden drift scenario — mirror of the reference's evaluation suite
  * (ml/testing.py:60-126): a control batch plus severity ladders, with
  * qualitative expected outcomes on the verdicts. */
class GoldenScenarioSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestBase.spark
  import spark.implicits._

  lazy val specs = DocsGen.goldenScenario
  lazy val docs = DocsGen.docs(spark, 18000, specs).cache()
  lazy val media = DocsGen.media(spark).cache()
  lazy val ref = Fit.fit(docs.filter($"part" === 0), snapshotId = 1L)
  lazy val results = ValidationRun.run(docs, media, ref,
    RunConfig(runId = "golden", alpha = 0.01, maxSample = 600, numPermutations = 50))
  lazy val verdicts: Map[(Int, String), Verdict] =
    results.verdicts.collect().map(v => (v.part, v.check_id) -> v).toMap

  val driftChecks = Seq("ks_offset", "chi2_kind", "psi_offset", "mmd_features")

  test("control partition: no drift on any check (reference loader => no-drift)") {
    driftChecks.foreach { c =>
      val v = verdicts((0, c))
      assert(!v.is_drift, s"control tripped $c: p=${v.p_value} d=${v.distance}")
    }
  }

  test("control partition: all constraint checks pass") {
    Seq("unique_doc_id", "ref_media", "span_order", "null_kind").foreach { c =>
      assert(verdicts((0, c)).passed, s"control failed $c")
    }
  }

  test("gap-noise ladder: KS distance monotone above noise floor, strong rungs drift") {
    // weakest rungs sit below statistical noise — the reference tolerates
    // this (FIXTURES.md: "weakest rung may legitimately not trip")
    val ds = (1 to 5).map(p => verdicts((p, "ks_offset")).distance)
    assert(ds(2) <= ds(3) && ds(3) <= ds(4), s"strong rungs not monotone: $ds")
    assert(ds(4) > ds(0) * 2, s"ladder top should dominate bottom: $ds")
    assert(verdicts((5, "ks_offset")).is_drift, "strongest sigma rung must trip KS")
    assert(verdicts((4, "ks_offset")).is_drift)
  }

  test("kind-tilt ladder: chi2 distance monotone, all rungs drift") {
    val ds = (6 to 10).map(p => verdicts((p, "chi2_kind")).distance)
    assert(ds == ds.sorted, s"chi2 not monotone along tilt ladder: $ds")
    (6 to 10).foreach(p => assert(verdicts((p, "chi2_kind")).is_drift, s"tilt part $p"))
  }

  test("kind-tilt ladder: PSI on offsets stays calm, chi2 owns the signal") {
    // tilt changes kinds, not offsets: PSI(offset) should not blow up
    (6 to 10).foreach { p =>
      assert(verdicts((p, "psi_offset")).distance < 0.1,
        s"psi(offset) on tilt part $p = ${verdicts((p, "psi_offset")).distance}")
    }
  }

  test("swap ladder: KS distance monotone, strong rungs drift") {
    val ds = (11 to 14).map(p => verdicts((p, "ks_offset")).distance)
    assert(ds == ds.sorted, s"KS D not monotone along swap ladder: $ds")
    assert(verdicts((14, "ks_offset")).is_drift)
  }

  test("swap ladder: span-order constraint fails exactly on swap parts") {
    (11 to 14).foreach(p => assert(!verdicts((p, "span_order")).passed, s"part $p"))
    (0 to 10).foreach(p => assert(verdicts((p, "span_order")).passed, s"part $p"))
  }

  test("MMD: strong shifts drift, distances exceed control") {
    val d0 = verdicts((0, "mmd_features")).distance
    Seq(5, 9, 10, 14).foreach { p =>
      val v = verdicts((p, "mmd_features"))
      assert(v.is_drift, s"MMD part $p p=${v.p_value}")
      assert(v.distance > d0)
    }
  }

  test("MMD: verdicts match the recorded golden values") {
    // (part, distance, p_value) of every mmd_features verdict of this run
    // (maxSample 600, 50 permutations), recorded from the kernel-matrix
    // implementation that preceded Mmd.permutationStats
    val golden = Seq(
      (0, 0.0, 1.0), (1, 0.008904177351036756, 0.32), (2, 0.0, 1.0),
      (3, 0.056071590897013565, 0.0), (4, 0.1723984230145087, 0.0),
      (5, 0.34560892594381637, 0.0), (6, 0.1130011951793075, 0.0),
      (7, 0.17114368659781698, 0.0), (8, 0.29887074051040774, 0.0),
      (9, 0.4597956252532498, 0.0), (10, 0.6364653739886137, 0.0),
      (11, 0.12711749482479598, 0.0), (12, 0.23152828360742012, 0.0),
      (13, 0.3425395307606187, 0.0), (14, 0.5871616988340578, 0.0),
      (15, 0.0, 1.0), (16, 0.0, 1.0), (17, 0.04223845039684524, 0.02))
    golden.foreach { case (part, d, p) =>
      val v = verdicts((part, "mmd_features"))
      assert(v.p_value == p, s"part $part p=${v.p_value}, recorded $p")
      assert(math.abs(v.distance - d) <= 1e-12 * d, s"part $part d=${v.distance}, recorded $d")
    }
  }

  test("duplicate fixture: uniqueness fails only there, with violation rows") {
    assert(!verdicts((15, "unique_doc_id")).passed)
    (0 to 14).foreach(p => assert(verdicts((p, "unique_doc_id")).passed, s"part $p"))
    val viol = results.violations.filter($"check_id" === "unique_doc_id").collect()
    assert(viol.nonEmpty && viol.forall(_.part == 15))
  }

  test("dangling fixture: referential fails only there, with violation rows") {
    assert(!verdicts((16, "ref_media")).passed)
    (0 to 15).foreach(p => assert(verdicts((p, "ref_media")).passed, s"part $p"))
    val viol = results.violations.filter($"check_id" === "ref_media").collect()
    assert(viol.nonEmpty && viol.forall(_.part == 16))
  }

  test("null-kind fixture: fails only there; stats null rate reflects it") {
    assert(!verdicts((17, "null_kind")).passed)
    (0 to 16).foreach(p => assert(verdicts((p, "null_kind")).passed, s"part $p"))
    val nullRate = verdicts((17, "stats")).metrics("null_kind_rate")
    assert(nullRate > 0.02 && nullRate < 0.10, s"null rate $nullRate")
    assert(verdicts((0, "stats")).metrics("null_kind_rate") == 0.0)
  }

  test("verdict rows carry the reference response shape") {
    val v = verdicts((5, "mmd_features"))
    assert(v.alpha == 0.01)
    assert(v.is_drift == (v.p_value <= v.alpha)) // detector.py:68
    assert(v.datetime.matches("""\d{2}/\d{2}/\d{4} \d{2}:\d{2}:\d{2}\.\d{6}"""))
    assert(v.snapshot_id == 1L)
  }

  test("fused scan (stats+sample+referential in one pass) matches the split path") {
    // the run's one scan (ModeBoth) must do exactly the work of a stats-only
    // (ModeStats) plus a sample-only (ModeSample) scan, so those standalone
    // scans measure their share of the pass. One input partition and at
    // most 160 spans per part keep every KLL sketch below its first
    // compaction, so the digests are bit-deterministic
    val small = DocsGen.docs(spark, 360, specs).coalesce(1).cache()
    val edges = ref.offsetEdges.toSeq
    val ms = Some(PartStats.broadcastMediaSet(media))
    import graft.sketch.DocStatsAgg.{ModeBoth, ModeSample, ModeStats}
    val (bothSum, bothSam) = PartStats.computeFused(small, 8, ModeBoth, ms, edges)
    val (statSum, _) = PartStats.computeFused(small, 8, ModeStats, ms, edges)
    val (_, sampSam) = PartStats.computeFused(small, 8, ModeSample, None, edges)
    assert(bothSum.keySet == statSum.keySet && bothSum.size == specs.size)
    bothSum.foreach { case (p, b) =>
      val s = statSum(p)
      assert(b.nDocs == s.nDocs && b.nSpans == s.nSpans &&
        b.approxDistinctDocIds == s.approxDistinctDocIds &&
        b.nullKindSpans == s.nullKindSpans && b.kindHist == s.kindHist &&
        b.ordViolationDocs == s.ordViolationDocs && b.nullKindDocs == s.nullKindDocs &&
        b.danglingRefSpans == s.danglingRefSpans && b.danglingRefDocs == s.danglingRefDocs,
        s"part $p counters")
      assert(b.offsetKll.sameElements(s.offsetKll), s"part $p KLL bytes")
      assert(b.offsetEdgeCounts.nonEmpty && b.offsetEdgeCounts.sameElements(s.offsetEdgeCounts),
        s"part $p CDF bins")
    }
    // the dangling fixture's counts ride the scan
    assert(bothSum(16).danglingRefSpans > 0)
    def bits(rows: Array[Array[Double]]) =
      rows.map(_.map(java.lang.Double.doubleToRawLongBits).toSeq).toSeq
    assert(bothSam.keySet == sampSam.keySet)
    bothSam.foreach { case (p, rows) =>
      assert(rows.nonEmpty && bits(rows) == bits(sampSam(p)), s"part $p sample")
    }
    small.unpersist()
    // the run's ref rows (broadcast-set probe over the dirty parts) equal
    // the exact string anti-join over the whole table
    val runRows = results.violations.filter($"check_id" === "ref_media")
      .select("doc_id", "detail").as[(String, String)].collect().sorted
    val joinRows = ConstraintChecks.referential(docs, media, "golden")._1
      .select("doc_id", "detail").as[(String, String)].collect().sorted
    assert(runRows.nonEmpty && runRows.sameElements(joinRows))
  }

  test("stats verdicts: counts and exact distinct (uniqueness byproduct)") {
    val s = verdicts((1, "stats")).metrics
    assert(s("count") == 1000.0)
    assert(s("distinct_doc_id") == 1000.0)
    // dup fixture: 1000 docs in groups of 5 -> 200 distinct
    assert(verdicts((15, "stats")).metrics("distinct_doc_id") == 200.0)
  }

  test("opt-in kind-consistency (E43): per-part kind_mismatch verdicts appear, " +
    "defaults emit none, counts match the standalone check") {
    // the default run above carries no kind_mismatch verdicts
    assert(!verdicts.keys.exists(_._2 == "kind_mismatch"))
    val withKind = ValidationRun.run(docs, media, ref,
      RunConfig(runId = "golden-kind", alpha = 0.01, maxSample = 600,
        numPermutations = 50, kindConsistency = true))
    val kv = withKind.verdicts.collect().filter(_.check_id == "kind_mismatch")
    val parts = docs.select($"part").distinct().as[Int].collect().toSet
    assert(kv.map(_.part).toSet == parts)
    // DocsGen catalog kinds are hash-independent of span kinds, so the
    // check fires heavily (~2/3 of joined refs disagree) — and its counts
    // must equal the standalone DataFrame check exactly
    val standalone = ConstraintChecks.kindConsistency(docs, media)
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    kv.foreach { v =>
      assert(v.distance == standalone.getOrElse(v.part, 0L).toDouble, s"part ${v.part}")
      assert(v.passed == (v.distance == 0.0))
    }
    assert(kv.map(_.distance).sum > 0.0)
    // row evidence matches the counts
    val rows = ConstraintChecks.kindConsistencyRows(docs, media, "golden-kind")
      .groupBy($"part").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(rows == standalone.filter(_._2 > 0))
  }
}
