package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.checks.{ConstraintChecks, Fit, PartStats, RefState}
import graft.engine.SnapshotCatalog
import graft.model.DocsGen

/** Phase-isolation bench (guide §1.4): times each expensive phase of the
  * flagship pass ALONE — no concurrent jobs contending — with the noop sink
  * where a write would otherwise be timed, and per-phase stage metrics
  * (executor run/CPU time, shuffle bytes/records) from a listener.
  *
  * This is the measurement harness for OPTIMIZATION_r06.md; graft.Bench (the
  * frozen driver contract) is untouched. Same env contract: reads
  * $SPARK_GRAFT_SF_DIR / $SPARK_GRAFT_CPUS, generates the identical
  * golden-scenario corpus at the dir's scale factor.
  *
  * Usage: sbt "runMain graft.BenchExtra [phase ...]"
  *   phases default to all of: stats uniq_new uniq_legacy viol_unique_new
  *   viol_unique_legacy viol_ref viol_integrity
  */
object BenchExtra {

  private class StageAgg extends SparkListener {
    @volatile var runMs = 0L
    @volatile var cpuNs = 0L
    @volatile var shufWriteB = 0L
    @volatile var shufReadB = 0L
    @volatile var shufRecs = 0L
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val m = sc.stageInfo.taskMetrics
      if (m != null) synchronized {
        runMs += m.executorRunTime
        cpuNs += m.executorCpuTime
        shufWriteB += m.shuffleWriteMetrics.bytesWritten
        shufReadB += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        shufRecs += m.shuffleWriteMetrics.recordsWritten
      }
    }
    def reset(): Unit = synchronized {
      runMs = 0; cpuNs = 0; shufWriteB = 0; shufReadB = 0; shufRecs = 0
    }
    def report(): String =
      f"execRun=${runMs / 1e3}%.1fs execCpu=${cpuNs / 1e9}%.1fs " +
        f"shufWrite=${shufWriteB / 1e6}%.0fMB shufRead=${shufReadB / 1e6}%.0fMB shufRecs=$shufRecs"
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val sf = "sf([0-9.]+)".r.findFirstMatchIn(sfDir).map(_.group(1).toDouble).getOrElse(0.1)
    val nDocs = sys.env.get("SPARK_GRAFT_DOCS").map(_.toLong)
      .getOrElse(math.max(18000L, (540000000 * sf).toLong))
    val phases = if (args.nonEmpty) args.toSet else Set(
      "stats", "uniq_new", "uniq_legacy", "viol_unique_new",
      "viol_unique_legacy", "viol_ref", "viol_integrity")
    val reps = sys.env.getOrElse("GRAFT_EXTRA_REPS", "2").toInt

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-bench-extra-$cores")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.files.openCostInBytes", (64 * 1024).toString)
      .config("spark.sql.files.maxPartitionBytes", (4 * 1024 * 1024).toString)
      .config("spark.shuffle.file.buffer", "1m")
      // mirror graft.Bench's shuffle hygiene: files on tmpfs (this sandbox
      // kernel charges ~100x for buffered-file syscalls; measured here:
      // 60-100 s of sys time per uniqueness pass on /tmp vs ~7 on tmpfs)
      .config("spark.local.dir", "/dev/shm/graft-extra-shuffle")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val agg = new StageAgg
    spark.sparkContext.addSparkListener(agg)

    val work = java.nio.file.Files.createTempDirectory("graft-bench-extra").toString
    val table = s"$work/docs"
    val (snap, genSec) = {
      val t0 = System.nanoTime()
      val s = SnapshotCatalog.commit(table,
        graft.model.DocsGenFast.docs(spark, nDocs, DocsGen.goldenScenario), "zstd",
        appendedParts = Some(DocsGen.goldenScenario.map(_.part)), statsKey = None)
      (s, (System.nanoTime() - t0) / 1e9)
    }
    val docs = SnapshotCatalog.read(spark, table, snap.snapshotId)
    val media = DocsGen.media(spark)
    val ref: RefState = Fit.fit(docs.filter($"part" === 0), snapshotId = 1L, maxSample = 1000)
    val mediaSet = PartStats.broadcastMediaSet(media)
    println(f"[extra] corpus $nDocs docs at $table (gen ${genSec}%.1f s), cores=$cores")

    def timePhase(name: String)(body: => Unit): Unit = {
      (1 to reps).foreach { i =>
        agg.reset()
        val (u0, s0) = graft.tools.ProcStat.cpuTimes()
        val t0 = System.nanoTime()
        body
        val wall = (System.nanoTime() - t0) / 1e9
        val (u1, s1) = graft.tools.ProcStat.cpuTimes()
        println(f"[extra] $name%-22s rep$i wall=$wall%7.2fs user=${u1 - u0}%6.1f sys=${s1 - s0}%5.1f ${agg.report()}")
      }
    }

    // the golden dup range is part 15 only; mirror the pass's pruning
    def rangedDocs(lo: Int, hi: Int): DataFrame = docs.filter($"part".between(lo, hi))

    if (phases("stats")) timePhase("stats(fused,ModeBoth)") {
      PartStats.computeFused(docs, 1000, graft.sketch.DocStatsAgg.ModeBoth,
        Some(mediaSet), edges = ref.offsetEdges.toSeq)
    }
    if (phases("uniq_new")) timePhase("uniq singlepass") {
      ConstraintChecks.uniquenessSinglePass(docs, "bx")
    }
    if (phases("uniq_legacy")) timePhase("uniq stacked") {
      ConstraintChecks.uniquenessStacked(docs, "bx", 0)
    }
    if (phases("viol_unique_new")) timePhase("viol_unique singlepass") {
      noop(ConstraintChecks.uniquenessSinglePass(docs, "bx")._1.toDF())
    }
    if (phases("viol_unique_legacy")) timePhase("viol_unique stacked") {
      noop(ConstraintChecks.uniquenessStacked(docs, "bx", 0)._1.toDF())
    }
    if (phases("viol_write_codecs")) {
      // parquet codec choice for the (disk-bound on this kernel) violation
      // sink writes: materialize the 3M dup-violation rows once, then time
      // only the write with each codec
      val mat = ConstraintChecks.uniquenessSinglePass(docs, "bx")._1.toDF()
        .localCheckpoint(true)
      Seq("snappy", "zstd", "lz4").foreach { codec =>
        timePhase(s"viol_write_$codec") {
          mat.write.mode("overwrite").option("compression", codec)
            .parquet(s"$work/vw_$codec")
        }
        val bytes = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$work/vw_$codec"))
          .filter(p => p.toString.endsWith(".parquet")).mapToLong(p => p.toFile.length).sum
        println(f"[extra] viol_write_$codec bytes=${bytes / 1e6}%.1f MB")
      }
    }
    if (phases("viol_ref")) timePhase("viol_ref rows(part16)") {
      noop(ConstraintChecks.referentialRows(rangedDocs(16, 16), media, "bx").toDF())
    }
    if (phases("viol_ref_probe")) timePhase("viol_ref probe(part16)") {
      noop(ConstraintChecks.referentialRows(rangedDocs(16, 16), media, "bx",
        Some(mediaSet)).toDF())
    }
    if (phases("viol_integrity")) timePhase("viol_integrity rows") {
      noop(ConstraintChecks.spanIntegrityRows(
        docs.filter($"part".isin(11, 12, 13, 14, 17)), "bx").toDF())
    }

    import scala.sys.process._
    Seq("rm", "-rf", work).!
    spark.stop()
    Seq("rm", "-rf", "/dev/shm/graft-extra-shuffle").!
  }
}
