package perfbench

import graft.engine.RunConfig

/** Per-layer metrics of a traced run: medians over the timed operations of
  * span durations and of the Spark work filed under each span. A layer that
  * a workload never calls per operation reports its set-up call (the golden
  * corpus commit) or 0 (rollbacks on the read-only audit). */
final class LayerMetrics(tr: Tracer, results: Seq[PerfBench.OpResult], wl: Workload) {
  import PerfBench.median

  private val timed = tr.spans.toSeq.filter(_.op >= wl.warmupOps)
  private val setup = tr.spans.toSeq.filter(_.op < 0)
  private val tracedOps = results.filter(_.traced).map(_.op).toSet
  private val mb = 1048576.0

  private def named(name: String): Seq[Span] = timed.filter(_.name == name)
  private def secs(spans: Seq[Span]): Double = median(spans.map(_.seconds))
  private def work(spans: Seq[Span])(f: Work => Double): Double =
    median(spans.map(s => f(tr.subtreeWork(s))))
  /** Value of `f` per traced op, for ops that have every span named. */
  private def perOp(names: String*)(f: Map[String, Span] => Double): Double = {
    val byOp = timed.filter(s => names.contains(s.name)).groupBy(_.op)
    median(byOp.values.collect {
      case ss if ss.size == names.size => f(ss.map(s => s.name -> s).toMap)
    }.toSeq)
  }
  private def cpu(w: Work) = w.cpuNs / 1e9

  def all(reps: Seq[(Double, Double)], sessionS: Double, warmupS: Double,
          gcPerOpS: Double): Seq[(String, Double, String)] = {
    val commits = if (named("catalog.commit").nonEmpty) named("catalog.commit")
      else setup.filter(_.name == "catalog.commit")
    val catalogBytes = tracedOps.toSeq.flatMap(wl.catalogBytes.get)
    val plainGates = named("gate").filterNot(s => tracedOps(s.op))
    val stats = named("stats_scan")
    val viol = named("viol")
    val layerNames = Seq("stats_scan", "uniq", "viol", "mmd", "drift_driver")
    val perms = RunConfig("perfbench").numPermutations + 1
    Seq(
      ("catalog.commit_s", secs(commits), "s"),
      ("catalog.commit_tasks", work(commits)(_.tasks.toDouble), "count"),
      ("catalog.read_s", secs(named("catalog.read")), "s"),
      ("catalog.read_tasks", work(named("catalog.read"))(_.tasks.toDouble), "count"),
      ("catalog.rollback_s", secs(named("catalog.rollback")), "s"),
      ("catalog.bytes_written",
        median((if (catalogBytes.nonEmpty) catalogBytes else wl.catalogBytes.get(-1).toSeq)
          .map(_.toDouble)), "B"),
      ("wap.decide_s", secs(named("wap.decide")), "s"),
      ("wap.rollbacks", results.count(_.rolledBack).toDouble, "count"),
      ("run.s", secs(named("run")), "s"),
      ("run.cpu_s", work(named("run"))(cpu), "s"),
      ("run.jobs", work(named("run"))(_.jobs.toDouble), "count"),
      ("run.tasks", work(named("run"))(_.tasks.toDouble), "count"),
      ("run.overlap_s", perOp("run" +: layerNames: _*)(m =>
        layerNames.map(m(_).seconds).sum - m("run").seconds), "s"),
      ("stats_scan.s", secs(stats), "s"),
      ("stats_scan.cpu_s", work(stats)(cpu), "s"),
      ("stats_scan.input_mb", work(stats)(_.inputBytes / mb), "MiB"),
      ("stats_scan.docs_per_cpu_s", median(stats.map(s =>
        wl.layerInput(s.op)._1 / cpu(tr.subtreeWork(s)))), "docs/s"),
      ("uniq.s", secs(named("uniq")), "s"),
      ("uniq.cpu_s", work(named("uniq"))(cpu), "s"),
      ("uniq.shuffle_write_mb", work(named("uniq"))(_.shuffleWriteBytes / mb), "MiB"),
      ("uniq.shuffle_records", work(named("uniq"))(_.shuffleWriteRecords.toDouble), "count"),
      ("viol.s", secs(viol), "s"),
      ("viol.rows", work(viol)(_.outputRecords.toDouble), "count"),
      ("viol.input_mb", work(viol)(_.inputBytes / mb), "MiB"),
      ("viol.rescan_ratio", perOp("viol", "stats_scan")(m =>
        tr.subtreeWork(m("viol")).inputBytes.toDouble /
          tr.subtreeWork(m("stats_scan")).inputBytes), "ratio"),
      ("viol.bytes_written", work(viol)(_.outputBytes.toDouble), "B"),
      ("mmd.s", secs(named("mmd")), "s"),
      ("mmd.cpu_s", work(named("mmd"))(cpu), "s"),
      ("mmd.perms_per_s", median(named("mmd.fanout").map(s =>
        wl.layerInput(s.op)._2 * perms / s.seconds)), "1/s"),
      ("drift_driver.s", secs(named("drift_driver")), "s"),
      ("fit.s", median(reps.map(_._2)), "s"),
      ("setup.session_s", sessionS, "s"),
      ("setup.load_s", median(reps.map(_._1)), "s"),
      ("setup.warmup_s", warmupS, "s"),
      ("jvm.gc_s", gcPerOpS, "s"),
      ("spark.jobs_per_op", work(plainGates)(_.jobs.toDouble), "count"),
      ("spark.tasks_per_op", work(plainGates)(_.tasks.toDouble), "count"))
  }
}
