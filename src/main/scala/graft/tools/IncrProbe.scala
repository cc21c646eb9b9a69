package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.engine.{RunConfig, SnapshotCatalog, ValidationRun}
import graft.checks.Fit

/** Incremental-vs-full validation at volume: commits a base snapshot, then a
  * small append (with injected cross-snapshot doc_id collisions), and times
  * runIncremental against a full revalidation of the grown snapshot. The
  * claim being measured: per-snapshot validation cost is O(appended
  * partitions) + one narrow base scan for the cross-uniqueness check —
  * NOT O(corpus) — while the merged results table still covers every
  * partition with lineage.
  *
  * Usage: IncrProbe [nBaseDocs] [appendFrac] [cores]  (default 10.8M, 0.05, 32)
  */
object IncrProbe {
  def main(args: Array[String]): Unit = {
    val nBase = args.headOption.map(_.toLong).getOrElse(10800000L)
    val appendFrac = if (args.length > 1) args(1).toDouble else 0.05
    val cores = if (args.length > 2) args(2).toInt else 32
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-incr-probe")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val base = java.nio.file.Files.createTempDirectory("incr_probe")
    val table = s"$base/table"
    val media = graft.model.DocsGen.media(spark)

    // base snapshot: 18 clean partitions
    val baseParts = 18
    println(s"committing base snapshot ($nBase docs, $baseParts parts)...")
    val t0 = System.nanoTime()
    val s1 = SnapshotCatalog.commit(table,
      graft.model.DocsGen.docs(spark, nBase, graft.model.DocsGen.cleanScenario(baseParts)))
    println(f"base commit: ${(System.nanoTime() - t0) / 1e9}%.1f s")

    // append: 1 new partition, appendFrac of the base mass, every 1000th
    // doc_id remapped onto a base part-0 id (cross-snapshot collisions)
    val nNew = (nBase * appendFrac).toLong
    val raw = graft.model.DocsGen.docs(spark, nNew,
      Seq(graft.model.PartSpec(baseParts)))
    val newDocs = raw.withColumn("doc_id",
      when(pmod(substring($"doc_id", 9, 9).cast("long"), lit(1000L)) === 0,
        concat(lit("doc-000-"), substring($"doc_id", 9, 9)))
        .otherwise($"doc_id"))
    val s2 = SnapshotCatalog.commit(table, newDocs)
    val expectedCross = nNew / 1000 + (if (nNew % 1000 > 0) 1 else 0)

    val ref = Fit.fit(SnapshotCatalog.read(spark, table, s1.snapshotId)
      .filter($"part" === 0).limit(200000), snapshotId = s2.snapshotId, maxSample = 1000)
    val cfg = RunConfig(runId = "incr", maxSample = 1000, numPermutations = 100)

    def timed[T](name: String)(f: => T): (T, Double) = {
      val (u0, sy0) = ProcStat.cpuTimes()
      val t = System.nanoTime()
      val r = f
      val wall = (System.nanoTime() - t) / 1e9
      val (u1, sy1) = ProcStat.cpuTimes()
      println(f"$name%-14s wall=$wall%.1f s cpu=${u1 - u0 + sy1 - sy0}%.1f s")
      (r, wall)
    }

    // FULL revalidation of the grown snapshot (what incremental replaces)
    val (_, fullWall) = timed("full") {
      ValidationRun.run(SnapshotCatalog.read(spark, table, s2.snapshotId),
        media, ref, cfg)
    }

    // INCREMENTAL: new partition + cross-uniqueness + carry-forward.
    // Seed the results table with the base snapshot's verdicts first (the
    // state a production chain would already have), outside the timer.
    val results = s"$base/results"
    val viols = s"$base/violations"
    val refBase = ref.copy(snapshotId = s1.snapshotId)
    ValidationRun.runResumable(spark,
      SnapshotCatalog.read(spark, table, s1.snapshotId), media, refBase,
      cfg.copy(runId = "seed"), results, viols, knownParts = Some(s1.parts))
    val (incr, incrWall) = timed("incremental") {
      ValidationRun.runIncremental(spark, table, media, ref, cfg,
        results, viols, fromSnapshot = s1.snapshotId, toSnapshot = s2.snapshotId)
    }
    require(incr.newParts == Seq(baseParts), s"unexpected new parts ${incr.newParts}")
    require(incr.crossDupCounts.values.sum == expectedCross,
      s"cross dups ${incr.crossDupCounts.values.sum} != expected $expectedCross")
    val covered = spark.read.parquet(results)
      .filter($"snapshot_id" === s2.snapshotId && $"check_id" === "stats")
      .select("part").distinct().count()
    require(covered == baseParts + 1, s"results cover $covered parts")

    println(f"incremental=$incrWall%.1f s vs full=$fullWall%.1f s " +
      f"(${fullWall / incrWall}%.1fx; appendFrac=$appendFrac nBase=$nBase " +
      f"cores=$cores crossDups=${incr.crossDupCounts.values.sum})")
    spark.stop()
    org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
  }
}
