package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.checks.{ConstraintChecks, DriftChecks, Fit, PartStats, RefState, Verdict}
import graft.engine.{RunConfig, SnapshotCatalog, ValidationRun, Wap}
import graft.model.{DocsGen, DocsGenFast, PartSpec}
import graft.sketch.DocStatsAgg

/** Closed-loop benchmark of the validation engine: one client, one process,
  * `local[nproc]`. Usage (normally through `perfbench/run.py`):
  *
  *   PerfBench --workload snapshot_golden|wap_ingest --seed N --seconds S
  *             --trace 0|1 --work DIR --out DIR [--wrong-expectation]
  *
  * `--trace 0` times operations as a caller runs them and prints the
  * end-to-end metrics. `--trace 1` alternates plain and traced operations:
  * a traced one runs its calls into each layer under a span, then re-runs
  * every layer of the validation pass standalone on the same input, and the
  * run prints per-layer metrics. The last stdout line is one JSON object. */
object PerfBench {

  /** Data set-ups per run; `setup_s` takes the median one. */
  val SetupReps = 3

  final case class Opts(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: Path, out: Path,
                        wrongExpectation: Boolean)

  final case class OpResult(op: Int, gateS: Double, cpuS: Double, docs: Long,
                            bytesWritten: Long, traced: Boolean,
                            rolledBack: Boolean, error: Option[String],
                            label: String = "")

  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Bytes under a path (a missing path is 0). */
  def du(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally st.close()
    }

  def rmrf(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally st.close()
    }

  def parse(argv: Array[String]): Opts = {
    def value(flag: String): Option[String] =
      argv.indexOf(flag) match {
        case -1 => None
        case i if i + 1 < argv.length => Some(argv(i + 1))
        case _ => throw new IllegalArgumentException(s"$flag needs a value")
      }
    def need(flag: String) =
      value(flag).getOrElse(throw new IllegalArgumentException(s"missing $flag"))
    Opts(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", Paths.get(need("--work")), Paths.get(need("--out")),
      argv.contains("--wrong-expectation"))
  }

  def main(argv: Array[String]): Unit = {
    val code =
      try { run(parse(argv)); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.out.flush()
    // Spark leaves non-daemon threads behind that would hold the JVM open
    sys.exit(code)
  }

  def run(o: Opts): Unit = {
    require(Seq("snapshot_golden", "wap_ingest").contains(o.workload),
      s"unknown workload ${o.workload}")
    require(o.seconds > 0, "--seconds must be positive")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val nproc = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", o.work.resolve("shuffle").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tr = new Tracer(spark.sparkContext, o.trace)
    val media = tr.span("setup.session") {
      val m = DocsGen.media(spark).cache()
      m.count()
      m
    }
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val wl: Workload =
      if (o.workload == "snapshot_golden") new Golden(spark, tr, o, media)
      else new WapIngest(spark, tr, o, media)

    // data set-up, repeated so that setup_s can take a median
    val reps = (0 until SetupReps).map { rep =>
      val (_, loadS) = seconds(tr.span("setup.load")(wl.load(rep)))
      val (_, fitS) = seconds(tr.span("fit")(wl.fit()))
      if (rep < SetupReps - 1) wl.discard(rep)
      (loadS, fitS)
    }
    // a fixed count of warm-up operations, never "until steady"
    var failedWarmup = 0
    val (_, warmupS) = seconds(tr.span("setup.warmup") {
      (0 until wl.warmupOps).foreach { i =>
        val r = wl.op(i, traced = false)
        r.error.foreach { e =>
          failedWarmup += 1
          System.err.println(s"perfbench: warm-up op $i failed: $e")
        }
      }
    })
    System.gc()
    System.err.println(f"perfbench: setup done at ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.1f s")
    val setupS = sessionS + median(reps.map(r => r._1 + r._2)) + warmupS

    // timed closed loop: stop once the timed operations add up to --seconds,
    // or the wall clock runs far past it, or operations keep failing
    val results = scala.collection.mutable.ArrayBuffer.empty[OpResult]
    val gc0 = gcMs()
    val loopStart = System.nanoTime()
    var i = wl.warmupOps
    while (results.map(_.gateS).sum < o.seconds && results.count(_.error.nonEmpty) < 10 &&
        (System.nanoTime() - loopStart) / 1e9 < 3 * o.seconds + 30) {
      val r = wl.op(i, traced = o.trace && (i - wl.warmupOps) % 2 == 1)
      r.error.foreach(e => System.err.println(s"perfbench: op $i failed: $e"))
      results += r
      i += 1
    }
    tr.op = -1
    System.err.println(f"perfbench: loop done at ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.1f s")
    val gcS = (gcMs() - gc0) / 1e3
    // the second collection also frees what Spark's ContextCleaner released
    // after the first one (broadcast and shuffle blocks of collected plans)
    System.gc()
    Thread.sleep(200)
    System.gc()
    val heapLiveMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    spark.stop()
    System.err.println(f"perfbench: stopped at ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.1f s")

    val attempted = results.size
    val failed = results.count(_.error.nonEmpty)
    val correct = failed == 0 && failedWarmup == 0
    val gates = results.map(_.gateS).toSeq
    val docs = results.map(_.docs).sum.toDouble
    val (tail, tailLabel) = tailOf(gates)

    println(s"perfbench: workload=${o.workload} seed=${o.seed} trace=${if (o.trace) 1 else 0} " +
      s"nproc=$nproc heap_max_mb=${Runtime.getRuntime.maxMemory / 1048576} " +
      s"jdk=${System.getProperty("java.version")} spark=${org.apache.spark.SPARK_VERSION} " +
      s"corpus_docs=${wl.corpusDocs} history_parts=${wl.historyParts} " +
      s"docs_per_op=${wl.docsPerOp} warmup_ops=${wl.warmupOps} " +
      s"source=${sys.props.getOrElse("perfbench.source", "unknown")} " +
      s"git=${sys.props.getOrElse("perfbench.git", "none")}")
    println(s"perfbench: ops=$attempted failed=$failed failed_frac=${failed.toDouble / math.max(1, attempted)} " +
      s"warmup_failed=$failedWarmup gate_s_tail=$tailLabel (n=${gates.size}) " +
      s"setup: session_s=$sessionS load+fit_s=${reps.map(r => r._1 + r._2).mkString(",")} warmup_s=$warmupS")
    println(s"perfbench: gates (s, cpu_s, kind): " +
      results.map(r => f"${r.gateS}%.3f/${r.cpuS}%.1f/${r.label}").mkString(" "))
    println(s"perfbench: check ${if (correct) "PASSED" else "FAILED"}: ${wl.checkSummary}")

    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) Seq(
        ("setup_s", setupS, "s"),
        ("docs_per_s", ratio(docs, gates.sum), "docs/s"),
        ("gate_s_p50", median(gates), "s"),
        ("gate_s_tail", tail, "s"),
        ("cpu_s_per_mdoc", ratio(results.map(_.cpuS).sum, docs / 1e6), "cpu_s/Mdoc"),
        ("written_bytes_per_doc", ratio(results.map(_.bytesWritten).sum.toDouble, docs), "B/doc"),
        ("heap_live_mb", heapLiveMb, "MiB"),
        ("ok_frac", (attempted - failed).toDouble / attempted, "ratio"))
      else {
        val m = new LayerMetrics(tr, results.toSeq, wl)
        m.all(reps, sessionS, warmupS, gcS / math.max(1, attempted)) :+
          (("trace.overhead_s",
            median(results.filter(_.traced).map(_.gateS).toSeq) -
              median(results.filterNot(_.traced).map(_.gateS).toSeq), "s"))
      }
    metrics.foreach { case (n, v, u) => println(f"perfbench: $n%-26s $v%.6f $u") }
    if (o.trace) tr.writeJsonl(o.out.resolve(s"spans-${o.workload}-${o.seed}.jsonl"))
    val body = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${if (v.isNaN || v.isInfinite) 0.0 else v}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
  }

  /** The highest percentile with at least ten samples beyond it. With fewer
    * than 21 samples no percentile above the median qualifies, and the
    * median is reported. */
  def tailOf(xs: Seq[Double]): (Double, String) = {
    val s = xs.sorted
    if (s.size < 21) (median(s), "p50")
    else {
      val idx = s.size - 11
      (s(idx), f"p${100.0 * (idx + 1) / s.size}%.1f")
    }
  }
}

/** One workload: a data set-up that can run several times, and an operation
  * that a closed loop repeats. */
trait Workload {
  def corpusDocs: Long
  def historyParts: Int
  def docsPerOp: Long
  def warmupOps: Int
  /** Generate and commit the input table of set-up repetition `rep`. */
  def load(rep: Int): Unit
  def fit(): Unit
  def discard(rep: Int): Unit
  def op(i: Int, traced: Boolean): PerfBench.OpResult
  def checkSummary: String
  /** Catalog-layer bytes written per operation, by op id (traced runs). */
  val catalogBytes = scala.collection.mutable.HashMap.empty[Int, Long]
  /** (docs, parts) the standalone layers of op `i` scanned (traced runs). */
  val layerInput = scala.collection.mutable.HashMap.empty[Int, (Long, Int)]
}

/** Shared pieces: the gate timer and the standalone layer calls that mirror
  * the default `ValidationRun.run` path (split stats and sample scans,
  * broadcast referential check, violation rows to a sink). */
abstract class BaseWorkload(spark: SparkSession, tr: Tracer, o: PerfBench.Opts,
                            media: DataFrame) extends Workload {
  import PerfBench._

  def cfg(runId: String, sink: Path): RunConfig =
    RunConfig(runId = runId, violationsSink = Some(sink.toString))

  def sinkOf(i: Int): Path = o.work.resolve(s"viol/op-$i")

  /** Runs the caller-visible part of an operation, timing wall and process
    * CPU; in a traced run the "gate" span encloses exactly this. */
  def gate[T](body: => T): (T, Double, Double) = tr.span("gate") {
    val c0 = cpuNs()
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9, (cpuNs() - c0) / 1e9)
  }

  def span[T](traced: Boolean, name: String)(body: => T): T =
    if (traced) tr.span(name)(body) else body

  /** Each layer of the validation pass, called on its own, in the order the
    * pass depends on them. */
  def layers(docs: DataFrame, ref: RefState, runId: String, i: Int): Unit = tr.span("layers") {
    val c = cfg(runId, sinkOf(i))
    val sink = o.work.resolve(s"viol/layers-$i")
    val edges = ref.offsetEdges.toSeq
    val (summaries, _) = tr.span("stats_scan")(
      PartStats.computeFused(docs, c.maxSample, DocStatsAgg.ModeStats, None, edges))
    layerInput(i) = (summaries.values.map(_.nDocs).sum, summaries.size)
    val (uniqViol, _) = tr.span("uniq")(ConstraintChecks.uniquenessAuto(docs, runId, c.salts))
    tr.span("viol") {
      tr.span("viol.unique")(uniqViol.write.mode("overwrite").parquet(s"$sink/src=unique"))
      tr.span("viol.ref") {
        val (refViol, _) = ConstraintChecks.referential(docs, media, runId)
        refViol.write.mode("overwrite").parquet(s"$sink/src=ref")
      }
      tr.span("viol.integrity") {
        val dirty = summaries.collect {
          case (p, s) if s.ordViolationDocs > 0 || s.nullKindDocs > 0 => p
        }.toSeq
        ConstraintChecks.spanIntegrityRows(docs.filter(col("part").isin(dirty: _*)), runId)
          .write.mode("overwrite").parquet(s"$sink/src=integrity")
      }
    }
    tr.span("mmd") {
      val samples = tr.span("mmd.sample")(
        PartStats.computeFused(docs, c.maxSample, DocStatsAgg.ModeSample, None, edges)._2)
      tr.span("mmd.fanout")(DriftChecks.mmd(spark, runId, c.alpha, ref, samples,
        c.numPermutations, c.randomState))
    }
    tr.span("drift_driver") {
      DriftChecks.ks(runId, c.alpha, ref, summaries) ++
        DriftChecks.chi2(runId, c.alpha, ref, summaries) ++
        DriftChecks.psi(runId, c.alpha, ref, summaries) ++
        DriftChecks.emd(runId, c.alpha, ref, summaries) ++
        DriftChecks.jsd(runId, c.alpha, ref, summaries) ++
        DriftChecks.novelKind(runId, c.alpha, ref, summaries)
    }
    rmrf(sink)
  }

  /** Wraps an operation: failures are caught and counted, the operation's
    * output is deleted right after it is measured. */
  def guarded(i: Int, traced: Boolean)(body: => OpResult): OpResult = {
    tr.op = i
    val c0 = cpuNs()
    val t0 = System.nanoTime()
    try body
    catch {
      case NonFatal(e) =>
        OpResult(i, (System.nanoTime() - t0) / 1e9, (cpuNs() - c0) / 1e9, 0L, 0L, traced,
          rolledBack = false, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
    } finally rmrf(sinkOf(i))
  }
}

/** The read-heavy audit: one full validation pass over a pinned snapshot of
  * the golden drift scenario. The seed permutes which part id each golden
  * spec lands on. */
final class Golden(spark: SparkSession, tr: Tracer, o: PerfBench.Opts, media: DataFrame)
    extends BaseWorkload(spark, tr, o, media) {
  import PerfBench._

  val corpusDocs = 36000L
  val historyParts = 0
  val docsPerOp = corpusDocs
  val warmupOps = 1

  private val specs = DocsGen.goldenScenario
  /** part id of golden spec k */
  private val perm: IndexedSeq[Int] =
    new scala.util.Random(o.seed).shuffle(specs.indices.toIndexedSeq)
  private var table: String = _
  private var snapId = 0L
  private var ref: RefState = _
  private var firstVerdicts: Option[Set[(Int, String, Boolean, Boolean)]] = None
  private var firstViolations: Option[Map[(String, Int), Long]] = None
  private var checked = 0

  def load(rep: Int): Unit = {
    table = o.work.resolve(s"tables/golden-$rep").toString
    val docs = DocsGenFast.docs(spark, corpusDocs, specs.map(s => s.copy(part = perm(s.part))))
    snapId = tr.span("catalog.commit")(SnapshotCatalog.commit(table, docs)).snapshotId
    catalogBytes(-1) = du(Paths.get(table))
  }

  def fit(): Unit =
    ref = Fit.fit(SnapshotCatalog.read(spark, table, snapId).filter(col("part") === perm(0)),
      snapshotId = snapId)

  def discard(rep: Int): Unit = rmrf(o.work.resolve(s"tables/golden-$rep"))

  def op(i: Int, traced: Boolean): OpResult = guarded(i, traced) {
    val runId = s"golden-$i"
    val ((docs, verdicts), gateS, cpuS) = gate {
      val docs = span(traced, "catalog.read")(SnapshotCatalog.read(spark, table, snapId))
      val v = span(traced, "run")(ValidationRun.run(docs, media, ref, cfg(runId, sinkOf(i))).verdicts.collect())
      (docs, v)
    }
    val bytes = du(sinkOf(i))
    val error = check(verdicts, sinkOf(i))
    if (traced) layers(docs, ref, runId, i)
    OpResult(i, gateS, cpuS, verdicts.filter(_.check_id == "stats").map(_.metrics("count").toLong).sum,
      bytes, traced, rolledBack = false, error, "pass")
  }

  /** GoldenScenarioSpec's constraint outcomes, followed through the seed's
    * part mapping, plus identical verdict flags and violation-row counts on
    * every pass. */
  private def check(verdicts: Array[Verdict], sink: Path): Option[String] = {
    val flags = verdicts.map(v => (v.part, v.check_id, v.passed, v.is_drift)).toSet
    val byKey = verdicts.map(v => (v.part, v.check_id) -> v.passed).toMap
    val viol = spark.read.parquet(sink.toString).groupBy("src", "part").count().collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    val dupPart = if (o.wrongExpectation) perm(14) else perm(15)
    def failsOnlyOn(check: String, bad: Set[Int]): Seq[String] =
      specs.indices.map(perm).flatMap { p =>
        byKey.get((p, check)) match {
          case None => Some(s"no $check verdict for part $p")
          case Some(passed) if passed == bad(p) =>
            Some(s"$check part $p passed=$passed, expected ${!bad(p)}")
          case _ => None
        }
      }
    val swapParts = (11 to 14).map(perm).toSet
    val problems =
      failsOnlyOn("unique_doc_id", Set(dupPart)) ++
        failsOnlyOn("ref_media", Set(perm(16))) ++
        failsOnlyOn("null_kind", Set(perm(17))) ++
        (0 to 14).map(perm).flatMap { p =>
          if (byKey.get((p, "span_order")).contains(!swapParts(p))) None
          else Some(s"span_order part $p: expected passed=${!swapParts(p)}")
        } ++
        Seq("unique" -> Set(dupPart), "ref" -> Set(perm(16)),
          "integrity" -> (swapParts + perm(17))).flatMap { case (src, parts) =>
          val got = viol.keySet.collect { case (`src`, p) => p }
          if (got == parts) None else Some(s"violation rows of $src in parts $got, expected $parts")
        } ++
        (if (firstVerdicts.forall(_ == flags)) None
         else Some("(part, check, passed, is_drift) set differs from the first pass")) ++
        (if (firstViolations.forall(_ == viol)) None
         else Some("violation row counts differ from the first pass"))
    if (firstVerdicts.isEmpty) { firstVerdicts = Some(flags); firstViolations = Some(viol) }
    checked += 1
    if (problems.isEmpty) None else Some(problems.mkString("; "))
  }

  def checkSummary: String =
    s"$checked passes; constraint outcomes of the golden specs at part ids " +
      s"${perm.mkString("[", ",", "]")}, verdict flags and violation counts identical across passes"
}

/** The write-beside-read gate: each operation publishes or rolls back one
  * fresh single-part batch on a table with a part history past Spark's
  * parallel partition-discovery threshold (32 dirs). Half of the batches are
  * clean; the rest are duplicate, dangling or swap batches. */
final class WapIngest(spark: SparkSession, tr: Tracer, o: PerfBench.Opts, media: DataFrame)
    extends BaseWorkload(spark, tr, o, media) {
  import PerfBench._

  val historyParts = 48
  val historyDocsPerPart = 500L
  val corpusDocs: Long = historyParts * historyDocsPerPart
  val docsPerOp = 100000L
  val warmupOps = 1

  private val kindSpecs: Map[String, PartSpec] = Map(
    "clean" -> PartSpec(0),
    "duplicate" -> PartSpec(0, dupEvery = 5),
    "dangling" -> PartSpec(0, danglingRate = 0.10),
    "swap" -> PartSpec(0, swapProb = 0.2))
  private val expectedFailing: Map[String, Set[String]] = Map(
    "clean" -> Set.empty, "duplicate" -> Set("unique_doc_id"),
    "dangling" -> Set("ref_media"), "swap" -> Set("span_order"))
  /** Batch kinds of the timed gates. Every pair of gates holds one clean and
    * one dirty batch in seeded order, and the dirty kinds take turns in a
    * seeded order, so the timed gates of any run hold the same mix to within
    * one batch. The warm-up gate takes a duplicate batch, which runs the
    * violation write and the rollback as well as the audit. */
  private val kinds: IndexedSeq[String] = {
    val rng = new scala.util.Random(o.seed)
    val dirty = rng.shuffle(Seq("duplicate", "dangling", "swap"))
    (0 until 500).flatMap(k => rng.shuffle(Seq("clean", dirty(k % 3))))
  }
  private def kindOf(i: Int): String =
    if (i < warmupOps) "duplicate" else kinds((i - warmupOps) % kinds.size)
  private var batches: Map[String, DataFrame] = Map.empty
  private var table: String = _
  private var ref: RefState = _
  private var gates = 0
  private var rollbacks = 0

  def load(rep: Int): Unit = {
    table = o.work.resolve(s"tables/wap-$rep").toString
    val history = DocsGenFast.docs(spark, corpusDocs, DocsGen.cleanScenario(historyParts))
    tr.span("catalog.commit")(SnapshotCatalog.commit(table, history))
    if (batches.isEmpty) batches = kindSpecs.map { case (k, s) =>
      val df = DocsGenFast.docs(spark, docsPerOp, Seq(s)).cache()
      df.count()
      k -> df
    }
  }

  def fit(): Unit = {
    val snap = SnapshotCatalog.currentSnapshotId(table).get
    ref = Fit.fit(SnapshotCatalog.read(spark, table, snap).filter(col("part") === 0),
      snapshotId = snap)
  }

  def discard(rep: Int): Unit = rmrf(o.work.resolve(s"tables/wap-$rep"))

  def op(i: Int, traced: Boolean): OpResult = guarded(i, traced) {
    val part = historyParts + i
    val kind = kindOf(i)
    val batch = batches(kind).withColumn("part", lit(part))
    val priorId = SnapshotCatalog.currentSnapshotId(table).get
    val priorParts = SnapshotCatalog.readManifest(table, priorId).parts
    val c = cfg(s"wap-$i", sinkOf(i))
    val ((published, failing, newDocs), gateS, cpuS) = gate {
      if (!traced) {
        val r = Wap.validateAndPublish(spark, table, batch, media, ref, c)
        (r.published, r.failing, None)
      } else {
        // Wap.validateAndPublish step by step, so each catalog call gets a span
        val snap = tr.span("catalog.commit")(SnapshotCatalog.commit(table, batch))
        val newParts = (snap.parts.toSet -- priorParts).toSeq.sorted
        val docs = tr.span("catalog.read")(SnapshotCatalog.read(spark, table, snap.snapshotId)
          .filter(col("part").isin(newParts: _*)))
        val res = tr.span("run")(ValidationRun.run(docs, media, ref.copy(snapshotId = snap.snapshotId), c))
        val failing = tr.span("wap.decide")(res.verdicts.collect()
          .filter(v => Wap.DefaultGate.contains(v.check_id) && !v.passed).toSeq)
        if (failing.nonEmpty) tr.span("catalog.rollback")(SnapshotCatalog.rollbackTo(table, priorId))
        (failing.isEmpty, failing, Some((docs, ref.copy(snapshotId = snap.snapshotId))))
      }
    }
    gates += 1
    if (!published) rollbacks += 1
    val newManifests = SnapshotCatalog.manifestIds(table).filter(_ > priorId)
    val catalog = du(Paths.get(table, "data", s"part=$part")) +
      newManifests.map(id => Files.size(Paths.get(table, "_snapshots", s"v$id.json"))).sum
    catalogBytes(i) = catalog
    val bytes = catalog + du(sinkOf(i))

    val wantPublish = kind == "clean" || (o.wrongExpectation && kind == "duplicate")
    val nowParts = SnapshotCatalog.readManifest(table, SnapshotCatalog.currentSnapshotId(table).get).parts
    val problems = Seq(
      if (published == wantPublish) None
      else Some(s"$kind batch published=$published, expected $wantPublish"),
      if (failing.map(_.check_id).toSet == expectedFailing(kind)) None
      else Some(s"$kind batch failed ${failing.map(_.check_id).toSet}, expected ${expectedFailing(kind)}"),
      if (nowParts == (if (published) (priorParts :+ part).sorted else priorParts)) None
      else Some(s"current parts after the gate are wrong for a $kind batch")).flatten
    newDocs.foreach { case (d, r) => layers(d, r, s"wap-$i", i) }
    OpResult(i, gateS, cpuS, docsPerOp, bytes, traced, rolledBack = !published,
      if (problems.isEmpty) None else Some(problems.mkString("; ")), kind)
  }

  def checkSummary: String =
    s"$gates gates, $rollbacks rolled back; a batch publishes iff it is clean, " +
      "and a rollback restores the prior part set"
}
