package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.checks.{Fit, RefState}
import graft.engine.{RunConfig, SnapshotCatalog, ValidationRun}
import graft.model.DocsGen

/** Benchmark main — prints ONE JSON line.
  *
  * Headline metric (BASELINE.json): validated docs/sec for the FULL
  * constraint+drift pass (stats + uniqueness + referential + span-order +
  * null-kind + KS/χ²/PSI/MMD) over the interleaved docs table, plus
  * throughput at TWO parallelism levels (N=8 and 4N=32 cores, shuffle
  * partitions matched) on the SAME parquet input — the sandbox evidence for
  * the ≥0.8 scaling-efficiency criterion (no real cluster; see BASELINE.md).
  *
  * SF convention: SF=1 → 540M docs, so the driver's sf0.1 dir → 54M docs
  * (~243M spans). Input is written once (snapshot-committed parquet); both
  * levels read identical files. One discarded warm-up pass at the hi level
  * (JIT is process-wide, so the later lo session is already warm); timed
  * passes take the MIN of two runs to damp sandbox-VM noise. Fit (the
  * reference-window training analog) is excluded from the timed compare pass,
  * mirroring the reference's offline fit / online compare split
  * (ml/training.py fit vs detector_api compare).
  */
object Bench {

  // input codec (see BASELINE.md "bandwidth probe"): zstd is the default;
  // GRAFT_CODEC=snappy restores the round-1 input for A/B comparison.
  private val codec = sys.env.getOrElse("GRAFT_CODEC", "zstd")

  /** Set by main before the first session when the run needs a stable
    * warehouse (the bucketed layout's managed table lives there and must be
    * re-registerable from every per-level session). */
  @volatile private var warehouseDir: String = null

  private val TmpfsShuffleDir = "/dev/shm/graft-shuffle"
  // a bench killed mid-run (OOM, external timeout) must not leave shuffle
  // files resident in RAM-backed tmpfs: best-effort delete on ANY JVM exit
  Runtime.getRuntime.addShutdownHook(new Thread(() => rmrf(TmpfsShuffleDir)))

  private def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Pass-level CPU accounting (graft.tools.ProcStat) distinguishes "cores
    * idle" (scheduling/waves) from "work inflated" (contention) when a
    * parallelism level scales poorly. */
  private def cpuSec(): Double = graft.tools.ProcStat.cpuSec()

  private def session(cores: Int): SparkSession = {
    val b0 = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-bench-$cores")
    val s = (if (warehouseDir != null)
        b0.config("spark.sql.warehouse.dir", warehouseDir) else b0)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // partitioned writes: keep one writer per partition open instead of
      // sorting every task's rows by partition key (the sort spills at 100M+)
      .config("spark.sql.maxConcurrentOutputFileWriters", "32")
      // input layout is many ~3MB files (writers × dir-partitions): the
      // default 4MB openCostInBytes pads them into ~cores/2 splits and
      // starves the hi level — cheap opens + smaller split target restore
      // ≥2 tasks/core (measured: scan cpuUtil 0.5 → 0.9 at local[32])
      // one ~3MB generated file per task: the dirty-part violation rescans
      // read a single part dir (~32 files) — larger split targets collapsed
      // them to ~7 tasks and capped those phases' scaling at local[32]
      .config("spark.sql.files.openCostInBytes", (64 * 1024).toString)
      .config("spark.sql.files.maxPartitionBytes", (4 * 1024 * 1024).toString)
      // shuffle syscall hygiene for this sandbox kernel (syscalls+faults cost
      // ~100x a normal kernel; measured: uniqueness sys-CPU 7s -> 1.7s at
      // local[32]): 1 MB writer buffers, shuffle files on tmpfs — but only
      // while the workload's shuffle volume clearly fits tmpfs's usable
      // space (it is RAM-backed and shared with the page cache; overflowing
      // it fails tasks with ENOSPC mid-run). Larger runs stay on disk.
      .config("spark.shuffle.file.buffer", "1m")
      .config("spark.local.dir", {
        val shm = new java.io.File("/dev/shm")
        // a previous killed bench may have left multi-GB shuffle files in
        // tmpfs (RAM-backed — they eat memory from every later run and bias
        // shuffleFitsTmpfs against already-depleted space): clear them first
        rmrf(TmpfsShuffleDir)
        if (shm.isDirectory && shuffleFitsTmpfs(shm)) TmpfsShuffleDir
        else System.getProperty("java.io.tmpdir")
      })
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The timed unit: the full validation pass over a pre-committed snapshot
    * (or bucketed catalog table — `readDocs` owns the layout). */
  private def fullPass(spark: SparkSession, readDocs: SparkSession => org.apache.spark.sql.DataFrame,
                       ref: RefState, outDir: String): Long = {
    import spark.implicits._
    val docs = readDocs(spark)
    val media = DocsGen.media(spark)
    // constant runId keeps the pass's plans literal-identical across runs, so
    // Spark's codegen cache is hit instead of recompiling ~10 plans per pass
    // (driver-side serial time that would otherwise dominate at small SF)
    // violationsSink: each check's violation rows are written (src=<check>
    // subdirs) as soon as that check's counts land, overlapping the
    // remaining check phases — run() returns only after all writes finish
    val res = ValidationRun.run(docs, media, ref,
      RunConfig(runId = "bench", maxSample = 1000,
        violationsSink = Some(s"$outDir/violations")))
    val (_, tV) = time(res.verdicts.write.mode("overwrite").parquet(s"$outDir/results"))
    ValidationRun.lastTimings.put("write_verdicts", tV)
    res.summaries.values.map(_.nDocs).sum
  }

  /** Shuffle volume ≈ 2 full-table hash shuffles of ~48B/doc (the salted
    * uniqueness, the pass's largest); require 4x headroom in tmpfs's usable
    * space before putting spark.local.dir there. */
  private def shuffleFitsTmpfs(shm: java.io.File): Boolean = {
    val nDocs = sys.env.get("SPARK_GRAFT_DOCS").map(_.toLong).getOrElse {
      val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
      val sf = "sf([0-9.]+)".r.findFirstMatchIn(sfDir).map(_.group(1).toDouble).getOrElse(0.1)
      math.max(18000L, (540000000 * sf).toLong)
    }
    val needed = nDocs * 48 * 2 * 4
    shm.getUsableSpace > needed
  }

  /** Delete a pass's output dir right after timing: each pass writes ~GBs of
    * verdict/violation parquet, and letting them pile up churns the page
    * cache — on this sandbox kernel page reclaim injects multi-second
    * sys-time storms into later passes. */
  private def rmrf(dir: String): Unit = {
    import scala.sys.process._
    try Seq("rm", "-rf", dir).! catch { case _: Throwable => }
  }

  def main(args: Array[String]): Unit = {
    val benchT0 = System.nanoTime()
    def elapsedS: Double = (System.nanoTime() - benchT0) / 1e9
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val hiCores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val loCores = math.max(hiCores / 4, 1)
    val sf = "sf([0-9.]+)".r.findFirstMatchIn(sfDir).map(_.group(1).toDouble).getOrElse(0.1)
    val nDocs = sys.env.get("SPARK_GRAFT_DOCS").map(_.toLong)
      .getOrElse(math.max(18000L, (540000000 * sf).toLong))
    val work = java.nio.file.Files.createTempDirectory("graft-bench").toString

    // ---- setup (untimed): generate + snapshot-commit input, fit ref state
    // GRAFT_SCENARIO=clean benches the production-common case (no violations
    // anywhere: counts ride the main scans, every dirty-partition rescan
    // prunes to nothing); default is the golden drift scenario (7/18
    // partitions dirty — the worst-case violation-materialization load).
    val scenario = sys.env.getOrElse("GRAFT_SCENARIO", "golden") match {
      case "clean" => DocsGen.cleanScenario(18)
      case _ => DocsGen.goldenScenario
    }
    // GRAFT_LAYOUT=bucketed commits the corpus as a doc_id-bucketed catalog
    // table instead of the plain snapshot: uniquenessAuto then selects the
    // ZERO-EXCHANGE aggregation (the corpus-wide key shuffle — the critical
    // path's largest exchange — was paid once at ingest). Each per-level
    // session re-registers the external bucketed table (in-memory catalogs
    // do not survive the session switch; the files and their bucket-named
    // layout do).
    val layout = sys.env.getOrElse("GRAFT_LAYOUT", "plain")
    warehouseDir = s"$work/warehouse"
    val setup = session(hiCores)
    val table = s"$work/docs"
    // compiled generator twin — bit-identical to DocsGen.docs (equality
    // spec-gated), ~3x faster evaluation; trims the untimed setup phase
    // statsKey=None: manifest key stats (E31) would re-evaluate the
    // generator for a min/max pass — the bench's validation phases don't
    // use key pruning, so skip the collection in setup
    val (genSec, readDocs): (Double, SparkSession => org.apache.spark.sql.DataFrame) =
      if (layout == "bucketed") {
        val (_, g) = time(graft.engine.BucketedTables.commit(setup, "bench_docs",
          graft.model.DocsGenFast.docs(setup, nDocs, scenario), "doc_id", hiCores))
        val meta = setup.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier("bench_docs"))
        val ddl = meta.schema.toDDL
        val loc = meta.location.toString
        (g, (sp: SparkSession) => {
          if (!sp.catalog.tableExists("bench_docs"))
            sp.sql(s"CREATE TABLE bench_docs ($ddl) USING PARQUET " +
              s"CLUSTERED BY (doc_id) SORTED BY (doc_id) INTO $hiCores BUCKETS " +
              s"LOCATION '$loc'")
          sp.table("bench_docs")
        })
      } else {
        val (snap, g) = time(SnapshotCatalog.commit(table,
          graft.model.DocsGenFast.docs(setup, nDocs, scenario), codec,
          appendedParts = Some(scenario.map(_.part)), statsKey = None))
        (g, (sp: SparkSession) => SnapshotCatalog.read(sp, table, snap.snapshotId))
      }
    val ref = {
      import setup.implicits._
      Fit.fit(readDocs(setup).filter($"part" === 0),
        snapshotId = 1L, maxSample = 1000)
    }

    // ---- warm-up pass (discarded; JIT is process-wide)
    fullPass(setup, readDocs, ref, s"$work/warm")
    val setupSec = elapsedS // generation + fit + warm-up (untimed overheads)
    var docsCounted = 0L

    // headline TPC-H-style queries on the driver's sf dir (hi level).
    // min-of-2 with the passes INTERLEAVED (all queries once, then all
    // again): BENCH_r02 recorded a uniform ~5x inflation on these single-shot
    // timings during a degraded-VM window while the full pass on the same
    // run got FASTER — single samples on this sandbox measure the VM, not
    // the plan. Two interleaved passes damp a noise burst the same way the
    // full-pass rounds do.
    val tpchNames = Seq("stats_lineitem", "chi2_returnflag_years", "ks_quantity_years",
      "unique_orders", "ref_orders_customer")
    def tpchPass(): Map[String, Double] = tpchNames.map { q =>
      q -> time(graft.entry.TpchQueries.queries(q)(setup, sfDir).collect())._2
    }.toMap
    val (tp1, tp2) = (tpchPass(), tpchPass())
    val tpch = tpchNames.map(q => q -> math.min(tp1(q), tp2(q)))
    setup.stop()

    // compute-bound scaling probe: the MMD permutation fan-out on FIXED
    // broadcast samples (no table scan). The full pass is dominated by
    // parquet scans, which saturate this single box's memory bandwidth well
    // below 32 cores — a physical ceiling a real multi-node cluster does not
    // share (each executor node brings its own DRAM). This phase isolates
    // the engine's task-parallel compute path (matrix-free permutation
    // kernel: one kernel pass per 100-permutation chunk, compute-bound).
    val probeRef = ref.copy(refSample = ref.refSample.take(400))
    val probeSamples = (0 until 18).map(p => p -> probeRef.refSample).toMap
    def mmdProbe(s2: SparkSession): Double =
      time(graft.checks.DriftChecks.mmd(s2, "probe", 0.01, probeRef, probeSamples,
        numPermutations = 6000, permsPerTask = 100))._2

    // ---- timed passes, PAIRED: the sandbox VM's throughput swings
    // several-fold over minutes, so hi and lo passes alternate back-to-back
    // (hi,lo,hi,lo,…) and each level takes its min across rounds — a noise
    // burst then hits adjacent hi and lo passes alike instead of biasing one
    // whole level's block. Fresh session per level switch (one SparkContext
    // per JVM); Spark's codegen cache and the JIT survive the switch.
    val rounds = sys.env.getOrElse("GRAFT_ROUNDS", "3").toInt
    // wall-clock budget for the whole bench (setup included): later rounds
    // are skipped rather than risk an external timeout killing the process
    // before the one JSON line is printed — min-of-fewer-rounds beats no
    // result. Generous default; driver-side harnesses can tighten it.
    val budgetS = sys.env.getOrElse("GRAFT_TIME_BUDGET_S", "1800").toDouble
    // levels interleave within each round (hi,lo,n2,hi,lo,n2,…) and each
    // level takes its min across rounds — a VM noise burst then hits
    // adjacent levels alike instead of biasing one whole level's block.
    // n2 = quarter of lo (2 cores by default): the second scaling pair
    // (n2→lo) exercises the regime where per-core shared-resource pressure
    // is far from any ceiling — the regime each executor NODE of a real
    // cluster runs in; min-of-rounds like the others (a single n2 shot
    // measured noise, not the engine).
    val n2Cores = math.max(loCores / 4, 1)
    val skipN2 = sys.env.get("GRAFT_SKIP_N2").contains("1")
    var tHis = List.empty[Double]
    var tLos = List.empty[Double]
    var tN2s = List.empty[Double]
    var tMmdHis = List.empty[Double]
    var tMmdLos = List.empty[Double]
    var cpuHi = Double.NaN
    var cpuLo = Double.NaN
    var bestPhases: Map[String, Double] = Map.empty
    var bestPhasesLo: Map[String, Double] = Map.empty
    var maxRoundS = 0.0
    (1 to rounds).foreach { i =>
      // skip further rounds once fitting another one (sized like the worst
      // completed round) could blow the budget; a round that dies (storm-
      // induced OOM/ENOSPC) forfeits its samples but the bench still prints
      // its one JSON line from the rounds that completed
      if (i > 1 && elapsedS + maxRoundS > budgetS * 0.9) ()
      else try {
      val roundT0 = System.nanoTime()
      val hi = session(hiCores)
      val c0 = cpuSec()
      val (n, tH) = time(fullPass(hi, readDocs, ref, s"$work/hi$i"))
      docsCounted = n
      if (tHis.isEmpty || tH < tHis.min) {
        bestPhases = ValidationRun.lastTimings.toMap
        cpuHi = cpuSec() - c0
      }
      tHis ::= tH
      tMmdHis ::= mmdProbe(hi)
      hi.stop()
      rmrf(s"$work/hi$i")
      val lo = session(loCores)
      val c1 = cpuSec()
      val tL = time(fullPass(lo, readDocs, ref, s"$work/lo$i"))._2
      if (tLos.isEmpty || tL < tLos.min) {
        bestPhasesLo = ValidationRun.lastTimings.toMap
        cpuLo = cpuSec() - c1
      }
      tLos ::= tL
      tMmdLos ::= mmdProbe(lo)
      lo.stop()
      rmrf(s"$work/lo$i")
      if (!skipN2) {
        val n2 = session(n2Cores)
        tN2s ::= time(fullPass(n2, readDocs, ref, s"$work/n2_$i"))._2
        n2.stop()
        rmrf(s"$work/n2_$i")
      }
      maxRoundS = math.max(maxRoundS, (System.nanoTime() - roundT0) / 1e9)
      } catch {
        // swallow only when a full earlier round already supplied every
        // level's sample — otherwise the mins below would throw anyway
        case e: Throwable if tHis.nonEmpty && tLos.nonEmpty && tMmdLos.nonEmpty =>
          System.err.println(s"[graft-bench] round $i failed, continuing: $e")
          // stop the session that was live when the round died: getOrCreate
          // cannot change master on a live context, so a leaked local[N]
          // session would silently run the NEXT round's passes on the wrong
          // core count and corrupt the scaling-efficiency samples
          SparkSession.getActiveSession.foreach(_.stop())
      }
    }
    val tN2 = if (tN2s.isEmpty) Double.NaN else tN2s.min
    // DRAM-ceiling probe: aggregate streaming bandwidth at both thread counts
    // (one discarded warm call per level pre-touches the probe arrays; page
    // faults on this kernel would otherwise dominate the first measurement)
    graft.tools.MemBw.gbps(loCores, 2L << 30)
    val membwLo = graft.tools.MemBw.gbps(loCores)
    graft.tools.MemBw.gbps(hiCores, 2L << 30)
    val membwHi = graft.tools.MemBw.gbps(hiCores)
    val tHi = tHis.min
    val tLo = tLos.min
    val tMmdHi = tMmdHis.min
    val tMmdLo = tMmdLos.min
    val phases = bestPhases

    // clean up the multi-GB temp input/output (and any tmpfs shuffle leftovers)
    rmrf(work)
    rmrf(TmpfsShuffleDir)

    val thrHi = docsCounted / tHi
    val thrLo = docsCounted / tLo
    val eff = thrHi / (thrLo * (hiCores.toDouble / loCores))
    val thrN2 = docsCounted / tN2
    val effN2 = (thrLo / thrN2) / (loCores.toDouble / n2Cores)
    val queries = (Seq("full_pass" -> tHi, "full_pass_lo" -> tLo,
      "full_pass_n2" -> tN2) ++
      phases.toSeq.sortBy(_._1).map { case (k, v) => s"phase_$k" -> v } ++
      bestPhasesLo.toSeq.sortBy(_._1).map { case (k, v) => s"phase_lo_$k" -> v } ++
      tpch)
      .filterNot(_._2.isNaN)
      .map { case (k, v) => s""""$k":${math.rint(v * 1000) / 1000}""" }
      .mkString("{", ",", "}")
    val effMmd = (tMmdLo / tMmdHi) / (hiCores.toDouble / loCores)
    def r3(v: Double): Double = math.rint(v * 1000) / 1000
    val n2Fields = if (tN2.isNaN) "" else
      s""""throughput_n2_docs_per_sec":${math.rint(thrN2)},"cores_n2":$n2Cores,"scaling_efficiency_n2_to_lo":${r3(effN2)},"""
    val cpuFields =
      s""""cpu_util_hi":${r3(cpuHi / (tHi * hiCores))},"cpu_util_lo":${r3(cpuLo / (tLo * loCores))},"cpu_sec_hi":${r3(cpuHi)},"cpu_sec_lo":${r3(cpuLo)},"""
    val jsonLine =
      s"""{"metric":"validated docs/sec (full constraint+drift pass)","value":${math.rint(thrHi)},"unit":"docs/sec","queries":$queries,"sf":"$sfDir","docs":$docsCounted,"cores_hi":$hiCores,"cores_lo":$loCores,"fused":true,"codec":"$codec","setup_sec":${r3(setupSec)},"gen_sec":${r3(genSec)},"scenario":"${sys.env.getOrElse("GRAFT_SCENARIO", "golden")}","layout":"$layout","throughput_hi_docs_per_sec":${math.rint(thrHi)},"throughput_lo_docs_per_sec":${math.rint(thrLo)},"scaling_efficiency_lo_to_hi":${r3(eff)},$n2Fields$cpuFields"membw_gbps_lo_threads":${r3(membwLo)},"membw_gbps_hi_threads":${r3(membwHi)},"mmd_fanout_sec_hi":${r3(tMmdHi)},"mmd_fanout_sec_lo":${r3(tMmdLo)},"compute_scaling_efficiency":${r3(effMmd)}}"""
    println(jsonLine)
    // ALSO write the metric line to a bare file: under sbt the stdout line
    // drowns in interleaved Spark stderr noise and the driver's tail-parse
    // finds nothing (BENCH_r01 "parsed": null). A plain file always parses.
    val outFile = sys.env.getOrElse("GRAFT_BENCH_OUT", "bench_out.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), jsonLine + "\n")
    catch { case e: Throwable => System.err.println(s"[graft-bench] bench_out write failed: $e") }
  }
}
