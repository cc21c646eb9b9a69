package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.checks.ConstraintChecks
import graft.model.DocsGen

/** Writes `.explain("formatted")` for the round-6-touched query paths to
  * plans/r06/<name>_after.txt: `sbt "runMain graft.tools.PlanDump"`. The
  * committed `*_before.txt` dumps were written at the first commit of
  * round 6 and are never regenerated.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = Paths.get("plans/r06")
    Files.createDirectories(outDir)
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val work = java.nio.file.Files.createTempDirectory("plandump").toString
    graft.model.DocsGenFast.docs(spark, 18000, DocsGen.goldenScenario)
      .write.partitionBy("part").option("compression", "zstd").parquet(s"$work/docs")
    val docs = spark.read.parquet(s"$work/docs")

    def dump(name: String, df: DataFrame): Unit = {
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(outDir.resolve(s"${name}_after.txt"), txt)
      println(s"[plandump] wrote ${name}_after.txt (${txt.length} chars)")
    }

    // the uniqueness violations dataset: its plan embeds the whole recovery
    // (and in the single-pass path, the dup-key broadcast source)
    val (uv, _) = ConstraintChecks.uniqueness(docs, "plan")
    dump("uniq_violations", uv.toDF())

    // the uniqueness aggregation itself (counts path): reconstructed with
    // the exact production frames (same code via the private[graft] members)
    val keyed = docs.select($"part",
      xxhash64(coalesce($"doc_id".cast("string"), lit("\u0000NULL")), lit("u1")).as("h1"),
      xxhash64(coalesce($"doc_id".cast("string"), lit("\u0000NULL")), lit("u2")).as("h2"))
    dump("uniq_agg", keyed
      .repartition(ConstraintChecks.uniqShufflePartitions(keyed), $"h1", $"h2")
      .agg(graft.sketch.UniqStatsAgg.uniqStats($"h1", $"h2", $"part").as("u")))

    // the fused stats scan (phase_stats): DocStatsAgg consumption shape
    val media = DocsGen.media(spark)
    val mediaSet = graft.checks.PartStats.broadcastMediaSet(media)
    dump("stats_fused", graft.checks.PartStats.fusedFrame(
      docs, 1000, graft.sketch.DocStatsAgg.ModeBoth, Some(mediaSet),
      edges = Seq(10.0, 20.0, 30.0)))

    // dirty-part violation rescans (write_viol_ref / write_viol_integrity):
    // the fused path's hash-set probe
    dump("viol_ref_rows", ConstraintChecks.referentialRows(
      docs.filter($"part" === 16), media, "plan", Some(mediaSet)).toDF())
    dump("viol_integrity_rows", ConstraintChecks.spanIntegrityRows(
      docs.filter($"part".isin(11, 12, 13, 14, 17)), "plan").toDF())

    // the timed TPC-H-style bench queries (+ the restructured drift pair)
    val sfDir = "/root/testdata/sf0.001"
    Seq("stats_lineitem", "chi2_returnflag_years", "ks_quantity_years",
      "unique_orders", "ref_orders_customer", "emd_quantity_years",
      "psi_quantity_years").foreach { q =>
      dump(q, graft.entry.TpchQueries.queries(q)(spark, sfDir))
    }

    import scala.sys.process._
    Seq("rm", "-rf", work).!
    spark.stop()
  }
}
