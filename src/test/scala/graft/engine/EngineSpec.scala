package graft.engine

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.checks.Fit
import graft.model.DocsGen

class EngineSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestBase.spark
  import spark.implicits._

  test("snapshot catalog: commit, pin, append, re-pin") {
    val dir = Files.createTempDirectory("snap").toString
    val docs1 = DocsGen.docs(spark, 600, DocsGen.cleanScenario(3))
    val s1 = SnapshotCatalog.commit(dir, docs1)
    assert(s1.snapshotId == 1L && s1.parts == Seq(0, 1, 2))
    assert(SnapshotCatalog.read(spark, dir, 1L).count() == 600)

    // append more partitions -> snapshot 2 sees them, snapshot 1 still pinned
    val docs2 = DocsGen.docs(spark, 400, Seq(graft.model.PartSpec(3), graft.model.PartSpec(4)))
    val s2 = SnapshotCatalog.commit(dir, docs2)
    assert(s2.snapshotId == 2L && s2.parts == Seq(0, 1, 2, 3, 4))
    assert(SnapshotCatalog.read(spark, dir, 2L).count() == 1000)
    assert(SnapshotCatalog.read(spark, dir, 1L).count() == 600)
    assert(SnapshotCatalog.currentSnapshotId(dir).contains(2L))
  }

  test("resumable run: kill after k partitions, rerun skips them, results identical") {
    val tmp = Files.createTempDirectory("resume")
    val resultsPath = s"$tmp/results"
    val violationsPath = s"$tmp/violations"
    val docs = DocsGen.docs(spark, 3000, DocsGen.goldenScenario.take(6)).cache()
    val media = DocsGen.media(spark)
    val ref = Fit.fit(docs.filter($"part" === 0), snapshotId = 7L, maxSample = 300)
    val cfg = RunConfig(runId = "r1", maxSample = 300, numPermutations = 20)

    // "killed" first invocation: only 2 partitions get validated
    val first = ValidationRun.runResumable(spark, docs, media, ref, cfg,
      resultsPath, violationsPath, limitParts = Some(2))
    assert(first == Seq(0, 1))
    // no manifest passed → the loud full-scan planning fallback must fire
    assert(ValidationRun.plannedWithoutManifest)

    // with a manifest the scale warning must NOT fire
    ValidationRun.runResumable(spark, docs, media, ref, cfg.copy(runId = "rm"),
      s"$tmp/results_m", s"$tmp/violations_m", limitParts = Some(1),
      knownParts = Some(0 to 5))
    assert(!ValidationRun.plannedWithoutManifest)

    // resume: must skip 0,1 and do the rest
    val second = ValidationRun.runResumable(spark, docs, media, ref,
      cfg.copy(runId = "r2"), resultsPath, violationsPath)
    assert(second == Seq(2, 3, 4, 5))

    // third run: nothing left
    val third = ValidationRun.runResumable(spark, docs, media, ref,
      cfg.copy(runId = "r3"), resultsPath, violationsPath)
    assert(third.isEmpty)

    // final results: exactly one stats verdict per partition, all checks present
    val results = spark.read.parquet(resultsPath)
    val statsPerPart = results.filter($"check_id" === "stats")
      .groupBy("part").count().as[(Int, Long)].collect().toMap
    assert(statsPerPart == (0 to 5).map(_ -> 1L).toMap)
    assert(results.select("check_id").distinct().count() == 13)

    // checks agree between a resumed run and a single clean run:
    // exact for deterministic paths (chi2 on exact counts, seeded MMD);
    // tolerance for KLL-sketch distances (sketch compaction is randomized,
    // so bitwise equality across different merge orders is not guaranteed)
    val clean = ValidationRun.run(docs, media, ref, cfg.copy(runId = "clean"))
    def grab(df: org.apache.spark.sql.DataFrame, check: String) =
      df.filter($"check_id" === check)
        .select($"part", $"distance", $"p_value", $"is_drift")
        .as[(Int, Double, Double, Boolean)].collect().sortBy(_._1)
    assert(grab(clean.verdicts.toDF(), "chi2_kind")
      .sameElements(grab(results, "chi2_kind")))
    assert(grab(clean.verdicts.toDF(), "mmd_features")
      .sameElements(grab(results, "mmd_features")))
    val ksClean = grab(clean.verdicts.toDF(), "ks_offset")
    val ksResumed = grab(results, "ks_offset")
    ksClean.zip(ksResumed).foreach { case ((p1, d1, _, _), (p2, d2, _, _)) =>
      assert(p1 == p2 && math.abs(d1 - d2) < 0.02, s"part $p1: $d1 vs $d2")
    }
  }

  test("violationsSink writes the same rows as the lazy union, per check") {
    val tmp = Files.createTempDirectory("sink")
    val docs = DocsGen.docs(spark, 3600, DocsGen.goldenScenario).cache()
    val media = DocsGen.media(spark)
    val ref = Fit.fit(docs.filter($"part" === 0), snapshotId = 9L, maxSample = 200)
    val cfg = RunConfig(runId = "s1", maxSample = 200, numPermutations = 10)
    val lazyRows = ValidationRun.run(docs, media, ref, cfg)
      .violations.collect().map(v => (v.check_id, v.part, v.doc_id)).sorted
    assert(lazyRows.nonEmpty)
    val res2 = ValidationRun.run(docs, media, ref,
      cfg.copy(violationsSink = Some(s"$tmp/v")))
    assert(res2.violations.isEmpty) // sink mode: nothing left to write
    val sunk = spark.read.parquet(s"$tmp/v")
      .select("check_id", "part", "doc_id")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).sorted
    assert(sunk.toSeq == lazyRows.toSeq)
    docs.unpersist()
  }

  test("verdicts are parallelism-invariant (local shuffle-partition change)") {
    val docs = DocsGen.docs(spark, 2000, DocsGen.goldenScenario.take(3))
    val media = DocsGen.media(spark)
    val ref = Fit.fit(docs.filter($"part" === 0), snapshotId = 1L, maxSample = 200)
    val cfg = RunConfig(runId = "pi", maxSample = 200, numPermutations = 20)
    def strip(r: ValidationRun.Results) = r.verdicts.collect()
      .map(v => (v.part, v.check_id, v.distance, v.p_value, v.is_drift, v.passed))
      .sortBy(t => (t._1, t._2))
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val a = strip(ValidationRun.run(docs, media, ref, cfg))
    spark.conf.set("spark.sql.shuffle.partitions", "13")
    val b = try strip(ValidationRun.run(docs.repartition(11), media, ref, cfg))
    finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert(a.length == b.length)
    a.zip(b).foreach { case ((p1, c1, d1, pv1, dr1, ps1), (p2, c2, d2, pv2, dr2, ps2)) =>
      assert(p1 == p2 && c1 == c2, s"row order: ($p1,$c1) vs ($p2,$c2)")
      assert(ps1 == ps2, s"passed flipped for ($p1,$c1)")
      // ks/psi included — the determinism contract is now BIT-identical for
      // every check: their CDFs are exact integer sums at the fitted grid
      assert(d1 == d2, s"($p1,$c1): $d1 vs $d2")
      assert(pv1 == pv2 && dr1 == dr2, s"($p1,$c1): p $pv1 vs $pv2")
    }
  }

  test("referential path auto-selection: small catalog broadcasts (fused scan), " +
    "over-threshold catalog auto-falls-back to the shuffled anti-join with " +
    "identical verdicts; forced broadcast over the entry cap fails loud") {
    val docs = DocsGen.docs(spark, 1200, DocsGen.goldenScenario.take(4)).cache()
    val media = DocsGen.media(spark)
    val ref = Fit.fit(docs.filter($"part" === 0), snapshotId = 3L, maxSample = 200)
    val cfg = RunConfig(runId = "auto", maxSample = 200, numPermutations = 10)
    def refVerdicts(r: ValidationRun.Results) =
      r.verdicts.toDF().filter($"check_id" === "ref_media")
        .select($"part", $"distance", $"passed").as[(Int, Double, Boolean)]
        .collect().sortBy(_._1).toSeq
    // auto + small catalog → broadcast path rides the fused scan (no
    // standalone referential phase in the timings)
    ValidationRun.lastTimings.clear()
    val a = refVerdicts(ValidationRun.run(docs, media, ref, cfg))
    assert(!ValidationRun.lastTimings.keySet.exists(_ == "referential"),
      s"expected fused referential, phases: ${ValidationRun.lastTimings.keySet}")
    // auto + zero byte threshold → estimate exceeds it → shuffled anti-join
    // selected automatically, verdicts identical
    ValidationRun.lastTimings.clear()
    val b = refVerdicts(ValidationRun.run(docs, media, ref,
      cfg.copy(runId = "auto2", mediaBroadcastMaxBytes = 0L)))
    assert(ValidationRun.lastTimings.keySet.exists(_ == "referential"),
      s"expected standalone referential, phases: ${ValidationRun.lastTimings.keySet}")
    assert(a == b && a.nonEmpty)
    // a FORCED broadcast beyond the collect cap dies loud, not OOM
    val ex = intercept[IllegalArgumentException] {
      graft.checks.PartStats.broadcastMediaSet(media, maxEntries = 2)
    }
    assert(ex.getMessage.contains("broadcast cap"))
    // ...also when the caller hands over the count it already took
    val exKnown = intercept[IllegalArgumentException] {
      graft.checks.PartStats.broadcastMediaSet(media, maxEntries = 2, knownCount = Some(3L))
    }
    assert(exKnown.getMessage.contains("media catalog has 3 refs > broadcast cap 2"))
    docs.unpersist()
  }

  test("AUTO referential selection counts the media catalog once per run") {
    val docs = DocsGen.docs(spark, 1200, DocsGen.goldenScenario.take(4)).cache()
    val media = DocsGen.media(spark)
    val ref = Fit.fit(docs.filter($"part" === 0), snapshotId = 3L, maxSample = 200)
    val cfg = RunConfig(runId = "count1", maxSample = 200, numPermutations = 10)
    // a forced broadcast skips the selection count, so it counts the
    // catalog exactly once; AUTO must run no more jobs than that
    val (_, autoJobs) = graft.SparkTestBase.jobsDuring(
      ValidationRun.run(docs, media, ref, cfg).verdicts.count())
    val (_, forcedJobs) = graft.SparkTestBase.jobsDuring(
      ValidationRun.run(docs, media, ref, cfg, broadcastMedia = Some(true)).verdicts.count())
    assert(autoJobs == forcedJobs, s"auto run: $autoJobs jobs, forced broadcast: $forcedJobs")
    docs.unpersist()
  }

  test("a run leaves no cached plan behind: the shuffled referential path " +
    "and spanIntegrity release their caches, rows stay readable") {
    val g = DocsGen.goldenScenario
    // control, a swap rung, the dangling and the null-kind fixtures; uncached
    val docs = DocsGen.docs(spark, 1200, Seq(g(0), g(12), g(16), g(17)))
    val media = DocsGen.media(spark)
    val ref = Fit.fit(docs.filter($"part" === 0), snapshotId = 5L, maxSample = 200)
    val cfg = RunConfig(runId = "leak", maxSample = 200, numPermutations = 10)
    // suites share one session; start from an empty cache registry
    spark.catalog.clearCache()
    val cacheManager = spark.sharedState.cacheManager
    // a zero byte bound sends referential to the shuffled anti-join
    val res = ValidationRun.run(docs, media, ref, cfg.copy(mediaBroadcastMaxBytes = 0L))
    assert(cacheManager.isEmpty, "run() left a cached plan registered")
    val refViol = res.violations.filter($"check_id" === "ref_media").count()
    val refCount = res.verdicts.filter($"check_id" === "ref_media")
      .collect().map(_.distance).sum
    assert(refViol > 0 && refViol == refCount.toLong)
    val (intViol, intCounts) = graft.checks.ConstraintChecks.spanIntegrity(docs, "leak")
    assert(cacheManager.isEmpty, "spanIntegrity left a cached plan registered")
    assert(intCounts.values.sum > 0 && intViol.count() == intCounts.values.sum)
  }
}
