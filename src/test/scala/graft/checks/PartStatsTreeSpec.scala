package graft.checks

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.model.DocsGen

/** The two-level ("tree") merge of PartStats.computeFusedTree must produce
  * the SAME per-part summaries and samples as the direct single-collect path
  * — the stage-2 pre-merge only changes how results travel to the driver
  * (one bounded range row at a time instead of one all-parts collect). */
class PartStatsTreeSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestBase.spark

  test("tree merge == direct path on a many-part manifest (single input " +
    "partition: byte-identical digests)") {
    // one input partition -> one stage-1 partial per part -> every digest is
    // bit-deterministic, so we can assert FULL equality including KLL bytes
    val docs = DocsGen.docs(spark, 1200, DocsGen.cleanScenario(120)).repartition(1)
    val (sumDirect, samDirect) = PartStats.computeFused(docs, maxSample = 20)
    val (sumTree, samTree) = PartStats.computeFusedTree(docs, maxSample = 20, fanIn = 16)
    assert(sumTree.keySet == sumDirect.keySet && sumTree.size == 120)
    sumDirect.foreach { case (p, d) =>
      val t = sumTree(p)
      assert(t.nDocs == d.nDocs && t.nSpans == d.nSpans &&
        t.kindHist == d.kindHist && t.nullKindSpans == d.nullKindSpans &&
        t.ordViolationDocs == d.ordViolationDocs && t.nullKindDocs == d.nullKindDocs)
      assert(t.offsetKll.sameElements(d.offsetKll), s"part $p KLL bytes differ")
      assert(samTree(p).map(_.toSeq).toSeq == samDirect(p).map(_.toSeq).toSeq)
    }
  }

  test("tree merge == direct path under real parallelism (decoded fields + samples)") {
    // multiple input partitions: partial-merge order inside a part may vary,
    // so compare the DECODED summaries (all exact counters), the KLL row
    // count, and the deterministic min-hash samples as sets
    val docs = DocsGen.docs(spark, 3000, DocsGen.goldenScenario)
    val (sumDirect, samDirect) = PartStats.computeFused(docs, maxSample = 30)
    val (sumTree, samTree) = PartStats.computeFusedTree(docs, maxSample = 30, fanIn = 4)
    assert(sumTree.keySet == sumDirect.keySet && sumTree.size == 18)
    sumDirect.foreach { case (p, d) =>
      val t = sumTree(p)
      assert(t.nDocs == d.nDocs && t.nSpans == d.nSpans && t.kindHist == d.kindHist &&
        t.nullKindSpans == d.nullKindSpans &&
        t.ordViolationDocs == d.ordViolationDocs && t.nullKindDocs == d.nullKindDocs &&
        t.danglingRefSpans == d.danglingRefSpans)
      assert(graft.sketch.KllOps.n(t.offsetKll) == graft.sketch.KllOps.n(d.offsetKll))
      assert(samTree(p).map(_.toSeq).toSet == samDirect(p).map(_.toSeq).toSet,
        s"part $p samples differ")
    }
  }
}

class TreeMergeRunSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestBase.spark
  import spark.implicits._

  test("full run with treeMergeFanIn produces the same verdicts as the direct path") {
    val docs = DocsGen.docs(spark, 900, DocsGen.goldenScenario)
    val media = DocsGen.media(spark)
    val ref = Fit.fit(docs.filter($"part" === 0), snapshotId = 1L, maxSample = 50)
    def verd(cfg: graft.engine.RunConfig) =
      graft.engine.ValidationRun.run(docs, media, ref, cfg).verdicts.collect()
        .map(v => (v.part, v.check_id, v.distance, v.p_value, v.is_drift, v.passed))
        .sortBy(t => (t._1, t._2))
    val direct = verd(graft.engine.RunConfig(runId = "direct", maxSample = 50))
    val tree = verd(graft.engine.RunConfig(runId = "tree", maxSample = 50,
      treeMergeFanIn = Some(4)))
    assert(direct.length == tree.length)
    direct.zip(tree).foreach { case (d, t) =>
      assert(d._1 == t._1 && d._2 == t._2 && d._5 == t._5 && d._6 == t._6, s"$d vs $t")
      // ks/psi used to compare loosely here (KLL compaction depends on merge
      // arrival order); the exact-CDF grid made every check's numbers
      // integer-sum-derived, so tree ≡ direct is exact across the board
      assert(math.abs(d._3 - t._3) < 1e-9 && math.abs(d._4 - t._4) < 1e-9,
        s"$d vs $t")
    }
  }
}

/** Every `mmd_features` verdict of a full run equals an independent
  * driver-side replay: `Mmd.permutationTest` (one explicit `Mmd.distance`
  * per permuted split, the engine's (randomState, part, permId) seeds) over
  * the reference sample and the sample the verdict echoes. Both ways the
  * fused digests reach the driver — one collect, or the two-level tree
  * merge — must feed the fan-out the sample the verdict reports. */
class MmdReplaySpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestBase.spark
  import spark.implicits._

  private def assertReplay(treeMergeFanIn: Option[Int]): Unit = {
    val docs = DocsGen.docs(spark, 1800, DocsGen.goldenScenario)
    val media = DocsGen.media(spark)
    val ref = Fit.fit(docs.filter($"part" === 0), snapshotId = 7L, maxSample = 80)
    val mmd = graft.engine.ValidationRun.run(docs, media, ref,
      graft.engine.RunConfig(runId = "replay", maxSample = 80, echoInputValues = true,
        treeMergeFanIn = treeMergeFanIn))
      .verdicts.collect().filter(_.check_id == "mmd_features").sortBy(_.part)
    assert(mmd.map(_.part).toSeq == (0 until 18))
    mmd.foreach { v =>
      val y = v.input_values.getOrElse(fail(s"part ${v.part}: no echo"))
        .map(_.toArray).toArray
      assert(y.length.toDouble == v.metrics("n_prod"))
      val (obs, p) = graft.stats.Mmd.permutationTest(ref.refSample, y, ref.sigma,
        100, 31L, part = v.part)
      assert(v.p_value == p, s"part ${v.part}: engine p=${v.p_value}, replay p=$p")
      // the engine rounds kernel entries to float; Mmd.distance does not
      assert(math.abs(v.distance - obs) < 1e-5, s"part ${v.part}: ${v.distance} vs $obs")
    }
    // the replay must see both outcomes, or it would not tell seeds apart
    assert(mmd.exists(_.is_drift) && mmd.exists(!_.is_drift))
  }

  test("run, direct collect: mmd verdicts == Mmd.permutationTest replay") {
    assertReplay(None)
  }

  test("run, tree merge: mmd verdicts == Mmd.permutationTest replay") {
    assertReplay(Some(2))
  }
}

/** Verdict input-echo option — parity with the reference's
  * `return_input_values` (detector_api/app/schemas/drift.py:13,
  * app/api.py:41-42): when enabled, each MMD verdict carries the bounded
  * feature batch it consumed; all other verdicts echo nothing. */
class VerdictEchoSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestBase.spark
  import spark.implicits._

  test("echoInputValues attaches the MMD sample to mmd verdicts only") {
    val docs = DocsGen.docs(spark, 900, DocsGen.goldenScenario)
    val media = DocsGen.media(spark)
    val ref = Fit.fit(docs.filter($"part" === 0), snapshotId = 1L, maxSample = 50)
    val res = graft.engine.ValidationRun.run(docs, media, ref,
      graft.engine.RunConfig(runId = "echo", maxSample = 50, echoInputValues = true))
    val verdicts = res.verdicts.collect()
    val mmd = verdicts.filter(_.check_id == "mmd_features")
    assert(mmd.nonEmpty)
    mmd.foreach { v =>
      val echoed = v.input_values.getOrElse(fail(s"part ${v.part}: no echo"))
      assert(echoed.nonEmpty && echoed.size <= 50)
      assert(echoed.forall(_.size == echoed.head.size)) // fixed feature width
      assert(echoed.size.toDouble == v.metrics("n_prod"))
    }
    verdicts.filterNot(_.check_id == "mmd_features")
      .foreach(v => assert(v.input_values.isEmpty, s"${v.check_id} echoed"))
    // default: off — no verdict echoes anything
    val res2 = graft.engine.ValidationRun.run(docs, media, ref,
      graft.engine.RunConfig(runId = "noecho", maxSample = 50))
    res2.verdicts.collect().foreach(v => assert(v.input_values.isEmpty))
  }
}
