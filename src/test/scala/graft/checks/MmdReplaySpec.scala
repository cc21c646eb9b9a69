package graft.checks

import org.scalatest.funsuite.AnyFunSuite
import graft.model.DocsGen

/** Every `mmd_features` verdict of a full run equals an independent
  * driver-side replay: `Mmd.permutationTest` (one explicit `Mmd.distance`
  * per permuted split, the engine's (randomState, part, permId) seeds) over
  * the reference sample and the sample the verdict echoes: the fan-out,
  * which reads the samples on the executors, must test the sample the
  * verdict reports. */
class MmdReplaySpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestBase.spark
  import spark.implicits._

  test("run, direct collect: mmd verdicts == Mmd.permutationTest replay") {
    val docs = DocsGen.docs(spark, 1800, DocsGen.goldenScenario)
    val media = DocsGen.media(spark)
    val ref = Fit.fit(docs.filter($"part" === 0), snapshotId = 7L, maxSample = 80)
    val mmd = graft.engine.ValidationRun.run(docs, media, ref,
      graft.engine.RunConfig(runId = "replay", maxSample = 80, echoInputValues = true))
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
}
