package graft.checks

import org.scalatest.funsuite.AnyFunSuite
import graft.model.DocsGen
import graft.stats.{Mmd, StatMath}

/** The engine's MMD permutation test against a brute-force driver-side
  * replay: one explicit `Mmd.distance` per permuted split, drawn with the
  * engine's (randomState, part, permId) seeds. Chunking the permutations
  * over tasks must not move a p-value. */
class MmdPermutationSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestBase.spark

  private val rng = new StatMath.SplitMix64(20261018L)
  private def sample(n: Int, shift: Double): Array[Array[Double]] =
    Array.fill(n)(Array.fill(3)(rng.nextDouble() + shift))

  private val refSample = sample(60, 0.0)
  private val sigma = Mmd.medianHeuristicSigma(refSample)
  private val ref = RefState(sigma, refSample, Array.emptyByteArray,
    Map("text" -> 1L), 60L, 60L, 1L)
  // control, a weak shift (p strictly inside (0, 1)) and a strong shift
  private val samples = Map(0 -> sample(50, 0.0), 1 -> sample(50, 0.12),
    2 -> sample(50, 0.6))

  private def bruteForce(part: Int, numPermutations: Int,
                         randomState: Long): (Double, Double) = {
    val x = refSample
    val pool = x ++ samples(part)
    val obs = Mmd.distance(x, samples(part), sigma)
    val ge = (1 to numPermutations).count { permId =>
      val idx = StatMath.permutation(pool.length,
        (randomState * 1000003L + part) * 0x9E3779B97F4A7C15L + (permId - 1))
      val split = idx.map(pool)
      Mmd.distance(split.take(x.length), split.drop(x.length), sigma) >= obs
    }
    (obs, ge.toDouble / numPermutations)
  }

  test("mmd verdicts == brute-force permutation test, at every permsPerTask") {
    val want = samples.keys.toSeq.sorted.map(p => p -> bruteForce(p, 100, 31L)).toMap
    assert(want(1)._2 > 0.0 && want(1)._2 < 1.0, s"weak part p=${want(1)._2}")
    assert(want(2)._2 == 0.0, s"strong part p=${want(2)._2}")
    val byChunking = Seq(1, 7, 64, 101).map { ppt =>
      val vs = DriftChecks.mmd(spark, "perm", 0.01, ref, samples, permsPerTask = ppt)
      assert(vs.map(_.part) == Seq(0, 1, 2))
      vs.foreach { v =>
        val (obs, p) = want(v.part)
        assert(v.p_value == p, s"permsPerTask=$ppt part ${v.part}: ${v.p_value} vs $p")
        // the engine rounds kernel entries to float; Mmd.distance does not
        assert(math.abs(v.distance - obs) < 1e-5,
          s"permsPerTask=$ppt part ${v.part}: ${v.distance} vs $obs")
        assert(v.metrics("permutations") == 100.0)
      }
      vs.map(v => (v.part, v.distance, v.p_value))
    }
    assert(byChunking.distinct.size == 1, s"chunking moved a verdict: $byChunking")
  }

  test("Mmd.permutationTest(part) p == DriftChecks.mmd p_value on the same samples and seed") {
    val vs = DriftChecks.mmd(spark, "pt", 0.01, ref, samples)
    assert(vs.map(_.part) == Seq(0, 1, 2))
    vs.foreach { v =>
      val (obs, p) = Mmd.permutationTest(refSample, samples(v.part), sigma, 100, 31L,
        part = v.part)
      assert(p == v.p_value, s"part ${v.part}: permutationTest p=$p, engine p=${v.p_value}")
      // the engine rounds kernel entries to float; Mmd.distance does not
      assert(math.abs(obs - v.distance) < 1e-5, s"part ${v.part}: $obs vs ${v.distance}")
    }
    // the weak shift's p lies strictly inside (0, 1), so a seed mismatch shows
    assert(vs(1).p_value > 0.0 && vs(1).p_value < 1.0, s"weak part p=${vs(1).p_value}")
  }

  test("numPermutations < 1 fails loudly in mmd and in ValidationRun.run") {
    Seq(0, -1).foreach { np =>
      val e = intercept[IllegalArgumentException](
        DriftChecks.mmd(spark, "z", 0.01, ref, samples, numPermutations = np))
      assert(e.getMessage.contains(s"mmd: numPermutations must be >= 1, got $np"))
    }
    val docs = DocsGen.docs(spark, 360, DocsGen.goldenScenario)
    val fitted = Fit.fit(docs.filter(docs("part") === 0), snapshotId = 1L, maxSample = 20)
    val media = DocsGen.media(spark)
    // the run fails at entry: no scan, no sink write
    val sink = java.nio.file.Files.createTempDirectory("perm0").resolve("sink")
    val (e, jobs) = graft.SparkTestBase.jobsDuring(
      intercept[IllegalArgumentException](graft.engine.ValidationRun.run(docs, media, fitted,
        graft.engine.RunConfig(runId = "z", maxSample = 20, numPermutations = 0,
          violationsSink = Some(sink.toString)))))
    assert(e.getMessage.contains("mmd: numPermutations must be >= 1, got 0"))
    assert(jobs == 0, s"$jobs Spark jobs ran before the config check")
    assert(!java.nio.file.Files.exists(sink), s"sink dir $sink was created")
  }
}
