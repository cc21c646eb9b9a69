package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.model.DocsGen
import graft.sketch.{KllOps, KllSketchAgg}
import graft.stats.{Mmd, StatMath}

/** Sample "library user" program: generate the golden drift scenario, run a
  * KS + chi-squared drift pass per partition against the control partition,
  * print verdicts. Exercises the public API end-to-end (generator → featurize
  * → sketch agg → p-value math). */
object DriftDemo {
  def main(args: Array[String]): Unit = {
    val nDocs = if (args.nonEmpty) args(0).toLong else 18000L
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
      .appName("graft-drift-demo")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val docs = DocsGen.docs(spark, nDocs, DocsGen.goldenScenario).cache()

    // offsets per part -> KLL sketches (one agg pass, partial-merged)
    val offsetSketches = docs
      .select($"part", explode($"spans").as("s"))
      .select($"part", $"s.offset".cast("double").as("offset"))
      .groupBy($"part").agg(KllSketchAgg.kllSketch($"offset").as("sk"))
      .collect().map(r => r.getInt(0) -> r.getAs[Array[Byte]]("sk")).toMap

    // kind histograms per part (exact groupBy counts)
    val kindCounts = docs
      .select($"part", explode($"spans").as("s"))
      .groupBy($"part", $"s.kind".as("kind")).count()
      .collect().map(r => (r.getInt(0), Option(r.getString(1)).getOrElse("NULL")) -> r.getLong(2)).toMap

    val parts = offsetSketches.keys.toSeq.sorted
    val kinds = Seq("text", "image", "audio", "table")
    val refSk = offsetSketches(0)
    val refHist = kinds.map(k => kindCounts.getOrElse((0, k), 0L)).toArray

    println("%-5s %-10s %-12s %-10s %-12s %-8s"
      .format("part", "ks_D", "ks_p", "chi2", "chi2_p", "drift"))
    parts.foreach { p =>
      val d = KllOps.ksD(refSk, offsetSketches(p))
      val ksP = StatMath.ksPValue(d, KllOps.n(refSk), KllOps.n(offsetSketches(p)))
      val hist = kinds.map(k => kindCounts.getOrElse((p, k), 0L)).toArray
      val (chi2, chi2P) = StatMath.chi2TwoSample(refHist, hist)
      val drift = p != 0 && (ksP <= 0.01 || chi2P <= 0.01)
      println(f"$p%-5d $d%-10.4f $ksP%-12.2e $chi2%-10.2f $chi2P%-12.2e $drift%-8s")
    }

    // MMD on bounded per-part feature samples vs control (reference analog)
    val samples = docs
      .select($"part", DocsGen.featurize($"spans").as("f"),
        pmod(xxhash64($"doc_id"), lit(997L)).as("h"))
      .filter($"h" < 200) // deterministic ~20% sample
      .select($"part", $"f").as[(Int, Seq[Double])]
      .collect().groupBy(_._1).map { case (p, rows) => p -> rows.map(_._2.toArray).take(500) }
    val refSample = samples(0)
    val sigma = Mmd.medianHeuristicSigma(refSample, 500)
    println(s"\nMMD (sigma=$sigma):")
    parts.filter(_ != 0).take(6).foreach { p =>
      val (dist, pv) = Mmd.permutationTest(refSample, samples(p), sigma, 100, 31L, part = p)
      println(f"part $p%-3d mmd=$dist%.4f p=$pv%.3f drift=${pv <= 0.01}")
    }
    spark.stop()
  }
}
