package graft.tools

import org.apache.spark.sql.SparkSession
import graft.checks.{DriftChecks, RefState}

/** Isolates the compute-bound MMD permutation fan-out at two parallelism
  * levels — all available cores and one core — interleaved A/B/A/B, to
  * separate host noise from systematic scaling behavior. Prints per-run
  * seconds at each level.
  *
  * Run: sbt "runMain graft.tools.MmdProbe [numPermutations]" (default 6000). */
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
    val perms = if (args.length > 0) args(0).toInt else 6000
    val n = 400
    val dim = 8
    val rng = new java.util.Random(31)
    val sample = Array.fill(n)(Array.fill(dim)(rng.nextGaussian()))
    val ref = RefState(1.0, sample, Array.emptyByteArray, Map("text" -> 1L),
      n.toLong, n.toLong, 1L)
    val samples = (0 until 18).map(p => p -> sample).toMap

    def run(cores: Int): Double = {
      val s = session(cores)
      val t0 = System.nanoTime()
      DriftChecks.mmd(s, "probe", 0.01, ref, samples, numPermutations = perms,
        permsPerTask = 100)
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
      println(f"round $i: hi($cores)=$hi%.2f s  lo(1)=$lo%.2f s  " +
        f"ratio=${lo / hi}%.2f  eff=${lo / hi / cores}%.2f")
    }
  }
}
