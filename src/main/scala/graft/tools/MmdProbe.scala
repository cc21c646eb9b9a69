package graft.tools

import org.apache.spark.sql.SparkSession
import graft.checks.{DriftChecks, RefState}
import graft.stats.{Mmd, StatMath}

/** Times the MMD permutation test at the shape the engine runs by default:
  * a part's pool of 2000 reference + 2000 production rows of 6 features,
  * the observed split plus 100 permutations.
  *
  *   - kernel: one `Mmd.permutationStats` call on the driver thread,
  *     reported as that thread's CPU seconds (ThreadMXBean), 5 reps after
  *     2 warm-up calls;
  *   - fan-out: `DriftChecks.mmd` over 18 such parts at two parallelism
  *     levels — all available cores and one core — interleaved A/B/A/B, to
  *     separate host noise from systematic scaling behavior.
  *
  * Run: sbt "runMain graft.tools.MmdProbe [numPermutations]" (default 100). */
object MmdProbe {
  private def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"mmd-probe-$cores")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val perms = if (args.length > 0) args(0).toInt else 100
    val m = 2000
    val dim = 6
    val rng = new java.util.Random(31)
    def rows(k: Int, shift: Double) = Array.fill(k)(Array.fill(dim)(rng.nextGaussian() + shift))
    val refSample = rows(m, 0.0)
    val sigma = Mmd.medianHeuristicSigma(refSample)
    val samples = (0 until 18).map(p => p -> rows(m, p * 0.01)).toMap

    val pool = refSample ++ samples(1)
    val order = Array.tabulate(pool.length)(identity) +:
      Array.tabulate(perms)(b => StatMath.permutation(pool.length, b.toLong))
    val bean = java.lang.management.ManagementFactory.getThreadMXBean
    def kernelCpuS(): Double = {
      val c0 = bean.getCurrentThreadCpuTime
      Mmd.permutationStats(pool, m, sigma, order)
      (bean.getCurrentThreadCpuTime - c0) / 1e9
    }
    kernelCpuS(); kernelCpuS() // warm-up
    val reps = Seq.fill(5)(kernelCpuS())
    println(f"kernel: n=${pool.length} m=$m d=$dim perms=${order.length} cpu_s " +
      reps.map(r => f"$r%.3f").mkString(" ") + f" min=${reps.min}%.3f")

    val ref = RefState(sigma, refSample, Array.emptyByteArray, Map("text" -> 1L),
      m.toLong, m.toLong, 1L)
    def run(cores: Int): Double = {
      val s = session(cores)
      val t0 = System.nanoTime()
      DriftChecks.mmd(s, "probe", 0.01, ref, samples, numPermutations = perms)
      val dt = (System.nanoTime() - t0) / 1e9
      s.stop()
      dt
    }

    val cores = Runtime.getRuntime.availableProcessors()
    // warm-up
    run(cores)
    for (i <- 1 to 3) {
      val hi = run(cores)
      val lo = run(1)
      println(f"fan-out round $i: 18 parts hi($cores)=$hi%.2f s  lo(1)=$lo%.2f s  " +
        f"ratio=${lo / hi}%.2f  eff=${lo / hi / cores}%.2f")
    }
  }
}
