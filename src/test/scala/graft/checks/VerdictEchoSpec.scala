package graft.checks

import org.scalatest.funsuite.AnyFunSuite
import graft.model.DocsGen

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
