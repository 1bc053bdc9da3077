package perfbench

import java.io.{File, PrintWriter}

/** Per-layer metrics of a traced run, each named after the module whose
  * work it counts, as means per traced op invocation (so a figure does
  * not depend on how many invocations fit in the window).
  */
object Layers {
  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  private val MB = 1e6

  def metrics(tr: Seq[Inv], pairs: Seq[(Double, Double)]): Seq[(String, Double, String)] = {
    def m(f: Inv => Double) = mean(tr.map(f))
    val (tSum, uSum) = (pairs.map(_._1).sum, pairs.map(_._2).sum)
    Seq(
      ("ops.build_ms", m(_.buildNs / 1e6), "ms"),
      ("ops.build_jobs", m(_.buildJobs.toDouble), "count"),
      ("catalyst.analysis_ms", m(_.analysisMs), "ms"),
      ("catalyst.optimization_ms", m(_.optimizationMs), "ms"),
      ("catalyst.planning_ms", m(_.planningMs), "ms"),
      ("catalyst.actions", m(_.actions.toDouble), "count"),
      ("sched.jobs", m(_.jobs.size.toDouble), "count"),
      ("sched.stages", m(_.stages.toDouble), "count"),
      ("sched.tasks", m(_.tasks.toDouble), "count"),
      ("sched.task_failures", m(_.taskFailures.toDouble), "count"),
      ("sched.delay_ms", m(_.delayMs), "ms"),
      ("sched.driver_gap_ms", m(_.driverGapMs), "ms"),
      ("exec.run_ms", m(_.runMs), "ms"),
      ("exec.cpu_ms", m(_.cpuMs), "ms"),
      ("exec.gc_ms", m(_.gcMs), "ms"),
      ("exec.deser_ms", m(_.deserMs), "ms"),
      ("exec.peak_mem_mb", m(_.peakMemBytes / MB), "MB"),
      ("shuffle.write_mb", m(_.shuffleWrite / MB), "MB"),
      ("shuffle.read_mb", m(_.shuffleRead / MB), "MB"),
      ("shuffle.records", m(_.shuffleRecords.toDouble), "count"),
      ("shuffle.fetch_wait_ms", m(_.fetchWaitMs), "ms"),
      ("spill.disk_mb", m(_.spillDisk / MB), "MB"),
      ("scan.read_mb", m(_.scanBytes / MB), "MB"),
      ("scan.rows", m(_.scanRows.toDouble), "count"),
      ("pins.rdds", m(_.pinRdds.toDouble), "count"),
      ("pins.cached_mb", m(_.pinBytes / MB), "MB"),
      ("store.write_mb", m(_.outBytes / MB), "MB"),
      ("store.files", m(_.newFiles.toDouble), "count"),
      ("store.scratch_delta_mb", m(_.scratchDelta / MB), "MB"),
      ("stream.batches", m(_.batches.toDouble), "count"),
      ("stream.batch_ms", m(_.batchMs), "ms"),
      ("stream.state_rows", m(_.stateRows.toDouble), "count"),
      ("stream.commit_ms", m(_.commitMs), "ms"),
      ("trace.overhead_pct", if (uSum > 0) (tSum - uSum) / uSum * 100 else 0.0, "%"),
    )
  }

  /** Metrics that go into the final summary line: those that read non-zero
    * on every workload. The rest (stream.* and pins.*, which only
    * `lifecycle` exercises; GC, fetch-wait, spill and failure counts, which
    * read 0 at this data size) are printed on their own lines above it.
    */
  val reported: Set[String] = Set(
    "ops.build_ms", "ops.build_jobs", "catalyst.analysis_ms", "catalyst.optimization_ms",
    "catalyst.planning_ms", "catalyst.actions", "sched.jobs", "sched.stages", "sched.tasks",
    "sched.delay_ms", "sched.driver_gap_ms", "exec.run_ms", "exec.cpu_ms", "exec.deser_ms",
    "exec.peak_mem_mb", "shuffle.write_mb", "shuffle.read_mb", "shuffle.records",
    "scan.read_mb", "scan.rows", "store.files", "trace.overhead_pct")

  private def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  private def f1(v: Double) = f"$v%.1f"

  /** Per-family totals and the floor decomposition of the mean op call. */
  def groupLines(workload: String, tr: Seq[Inv]): Seq[String] = {
    val groups = tr.groupBy(i => Workloads.groupOf(i.key)).toSeq.sortBy(_._1).map { case (g, is) =>
      s"""${q(g)}:{"calls":${is.size},"wall_ms":${f1(is.map(_.wallNs / 1e6).sum)},""" +
        s""""jobs":${is.map(_.jobs.size).sum},"tasks":${is.map(_.tasks).sum}}"""
    }
    def m(f: Inv => Double) = f1(mean(tr.map(f)))
    val floor = Seq(
      "wall_ms" -> m(_.wallNs / 1e6),
      "build_ms" -> m(_.buildNs / 1e6),
      "analysis_ms" -> m(_.analysisMs),
      "optimization_ms" -> m(_.optimizationMs),
      "planning_ms" -> m(_.planningMs),
      "in_jobs_ms" -> m(i => i.wallNs / 1e6 - i.driverGapMs),
      "driver_gap_ms" -> m(_.driverGapMs),
      "task_run_ms" -> m(_.runMs),
      "sched_delay_ms" -> m(_.delayMs),
      "jobs_per_call" -> f"${mean(tr.map(_.jobs.size.toDouble))}%.2f",
    ).map { case (k, v) => s"${q(k)}:$v" }.mkString(",")
    Seq(s"""{"workload":${q(workload)},"groups":{${groups.mkString(",")}}}""",
      s"""{"workload":${q(workload)},"floor":{$floor}}""")
  }

  /** Spans, kept in memory during the run and written here at its end:
    * per op call its build, action, job and micro-batch children.
    */
  def writeSpans(f: File, workload: String, tr: Seq[Inv]): Unit = {
    f.getParentFile.mkdirs()
    val w = new PrintWriter(f)
    try {
      w.println("[")
      w.println(tr.map { i =>
        val jobs = i.jobs.sortBy(_._1).map { case (id, s, e) =>
          s"""{"span":"job","job":$id,"start_ms":$s,"end_ms":$e}""" }
        val acts = i.actionSpans.map { case (id, fn, ms) =>
          s"""{"span":"action","execution":$id,"name":${q(fn)},"ms":${f1(ms)}}""" }
        val batches = i.batchSpans.map { case (run, b, ms) =>
          s"""{"span":"batch","run":${q(run)},"batch":$b,"ms":$ms}""" }
        val build = s"""{"span":"build","start_ms":${i.startMs},"ms":${f1(i.buildNs / 1e6)}}"""
        s"""{"span":"op","workload":${q(workload)},"invocation":${q(i.id)},"key":${q(i.key)},""" +
          s""""group":${q(Workloads.groupOf(i.key))},"start_ms":${i.startMs},"end_ms":${i.endMs},""" +
          s""""children":[${(build +: (acts ++ jobs ++ batches)).mkString(",")}]}"""
      }.mkString(",\n"))
      w.println("]")
    } finally w.close()
  }
}
