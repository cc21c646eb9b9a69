package graft.engine

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.scalatest.funsuite.AnyFunSuite
import graft.checks.Fit
import graft.model.DocsGen

/** The MMD samples stay on the executors: a run's driver gets back part
  * summaries, not samples, and a run whose summaries pass the driver budget
  * fails before it writes anything. */
class SummaryBudgetSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestBase.spark
  import spark.implicits._

  // 18 parts of 2000 docs: every part fills the default 2000-row MMD
  // sample (2000 × 6 doubles ≈ 96 KB). The catalog is small, so the media
  // set's hashes (8 B a ref) stay a small part of the count.
  private lazy val docs = DocsGen.docs(spark, 36000, DocsGen.goldenScenario).cache()
  private lazy val media = DocsGen.media(spark, 1000)
  private lazy val ref = Fit.fit(docs.filter($"part" === 0), snapshotId = 1L)

  test("a default run gets back at most 16 KiB of task results per part") {
    val cfg = RunConfig(runId = "budget")
    assert(cfg.maxSample == 2000)
    val fitted = ref // fit before counting
    val resultBytes = new AtomicLong()
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) resultBytes.addAndGet(e.taskMetrics.resultSize)
    }
    ListenerBusDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val verdicts = try {
      val v = ValidationRun.run(docs, media, fitted, cfg).verdicts.collect()
      ListenerBusDrain.drain(spark.sparkContext)
      v
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(verdicts.count(_.check_id == "mmd_features") == 18)
    assert(resultBytes.get() <= 18L * 16 * 1024,
      s"${resultBytes.get()} B of task results for 18 parts")
  }

  test("a run over its summary budget fails loudly before any sink write") {
    val sink = Paths.get(Files.createTempDirectory("budget").toString, "sink")
    val cfg = RunConfig(runId = "over", violationsSink = Some(sink.toString))
    val e = intercept[IllegalStateException](
      ValidationRun.run(docs, media, ref, cfg, None, summaryBudget = 1024L))
    assert(e.getMessage.contains("runResumable(limitParts"), e.getMessage)
    assert(!Files.exists(sink), s"$sink was written")
  }
}
