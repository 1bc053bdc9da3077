package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One benchmark run: session start and warm-up, then a closed loop with
  * one client thread over the workload's panel (see [[Workloads.strata]])
  * for the requested seconds, in whole passes (lifecycle: whole cycles).
  *
  * A panel rather than the whole workload because one warm pass over all
  * keys of a workload takes one to two minutes on 4 cores.
  */
object Bench {

  final case class Conf(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, root: String, keysFile: String, traceOut: String, rev: String)

  final case class Call(key: String, phase: String, ms: Double, cpuMs: Double,
      err: Option[String])

  def cpus: Int = Runtime.getRuntime.availableProcessors()

  /** Passes over the panel before the timed phase. On 4 vCPUs the CPU
    * time of a call still falls by a quarter from the first pass to the
    * second while the JIT compiles, and only a little after; a timed
    * phase that starts earlier measures how far the warm-up has got.
    */
  val WarmPasses = 2

  def session(root: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"$root/local")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def processCpuMs: Double = os.getProcessCpuTime / 1e6

  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0)
    finally src.close()
  }

  def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(treeBytes).sum
    else f.length()

  def treeFiles(f: File): Int =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(treeFiles).sum else 1

  /** A per-run path to the fixtures: the engine's CSV/text/JSONL snapshot
    * caches ignore java.io.tmpdir and are keyed by the fixture path, so a
    * path of the run's own means no run reuses another's snapshots.
    */
  def fixtures(root: File, data: String): String = {
    val link = new File(root, s"data/${Workloads.sf}")
    link.getParentFile.mkdirs()
    java.nio.file.Files.createSymbolicLink(link.toPath,
      new File(data, Workloads.sf).getAbsoluteFile.toPath)
    link.getPath
  }

  /** The run; prints every metric line and the summary line last, and
    * returns (attempted, failed) invocations.
    */
  def run(c: Conf): (Int, Int) = {
    val keys = KeyTable.load(c.keysFile)
    val w = c.workload
    val panel = Workloads.panel(w, c.seed, keys.refMs)
    val lifecycle = w == "lifecycle"
    val root = new File(c.root)
    root.mkdirs()
    val sf = fixtures(root, c.data)
    val tmp = new File(root, "tmp")
    tmp.mkdirs()
    System.setProperty("java.io.tmpdir", tmp.getPath)

    val calls = ArrayBuffer.empty[Call]
    val warmDigest = scala.collection.mutable.Map.empty[String, Digest.D]
    var cycleNo = 0
    var tracer: Tracer = null
    val cycleScratch = ArrayBuffer.empty[Double]

    def check(k: String, d: Digest.D): Option[String] = {
      val spec = keys.spec(k)
      spec.check match {
        case "golden" =>
          if (d == spec.golden) None else Some(s"digest $d != golden ${spec.golden}")
        case "rows" =>
          if (d.rows == spec.golden.rows) None else Some(s"rows ${d.rows} != ${spec.golden.rows}")
        case _ =>
          warmDigest.get(k) match {
            case Some(g) if g != d => Some(s"digest $d != warm pass $g")
            case Some(_) => None
            case None => warmDigest(k) = d; None
          }
      }
    }

    def invoke(s: SparkSession, k: String, phase: String, inv: Inv = null): Call = {
      val fn = Workloads.opOf(k).fn
      val group = inv match { case null => s"pb-$phase-${calls.size}"; case i => i.id }
      s.sparkContext.setJobGroup(group, k, interruptOnCancel = false)
      val before = if (inv != null) (treeBytes(root), treeFiles(root)) else (0L, 0)
      if (inv != null) { tracer.begin(inv); inv.startMs = System.currentTimeMillis() }
      val cpu0 = processCpuMs
      val t0 = System.nanoTime()
      var tb = 0L
      val res = try {
        val df = fn(s, sf)
        tb = System.nanoTime()
        Right(Digest.of(df))
      } catch { case t: Throwable => Left(s"${t.getClass.getSimpleName}: ${t.getMessage}".take(300)) }
      val t1 = System.nanoTime()
      val cpu1 = processCpuMs
      if (inv != null) {
        inv.endMs = System.currentTimeMillis()
        inv.wallNs = t1 - t0
        inv.buildNs = (if (tb == 0L) t1 else tb) - t0
        tracer.end(inv)
        val sc = s.sparkContext
        inv.pinRdds = sc.getPersistentRDDs.size
        inv.pinBytes = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
        inv.scratchDelta = treeBytes(root) - before._1
        inv.newFiles = math.max(0, treeFiles(root) - before._2)
      }
      s.sparkContext.clearJobGroup()
      val err = res.fold(Some(_), d => check(k, d))
      err.foreach(e => System.err.println(s"[perfbench] $phase $k FAILED: $e"))
      val call = Call(k, phase, (t1 - t0) / 1e6, cpu1 - cpu0, err)
      calls += call
      call
    }

    /** One lifecycle cycle: an empty scratch root and no pins from the
      * previous cycle, then the panel in lifecycle order.
      */
    def cycle(s: SparkSession, ks: Seq[String], phase: String, traceIt: Boolean): Seq[Call] = {
      graft.ResultPins.releaseAll()
      cycleNo += 1
      val dir = new File(root, s"cycles/c$cycleNo")
      dir.mkdirs()
      System.setProperty("java.io.tmpdir", dir.getPath)
      val out = ks.map { k =>
        val inv = if (traceIt) new Inv(s"pb-inv-${calls.size}", k) else null
        invoke(s, k, phase, inv)
      }
      cycleScratch += treeBytes(dir) / 1e6
      graft.Tables.rmTree(dir)
      out
    }

    // --- set-up ------------------------------------------------------------
    // JVM start to session ready, then the warm passes over the panel
    // (lifecycle: cycles), measured as it happens. Each run sets up once:
    // a second session in the same JVM would start with the engine's
    // per-session caches already built.
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(c.root)
    val phaseAt = ArrayBuffer.empty[(String, Double)]
    def mark(name: String): Double = {
      val t = (System.currentTimeMillis() - jvmStartMs) / 1e3
      phaseAt += ((name, t))
      t
    }
    mark("session")
    (1 to WarmPasses).foreach { _ =>
      if (lifecycle) cycle(spark, panel, "warm", traceIt = false)
      else panel.foreach(invoke(spark, _, "warm"))
    }
    val setupS = mark("warm")

    // --- timed phase -----------------------------------------------------
    // A traced run pairs each traced call (lifecycle: cycle) with an
    // untraced one, alternating which comes first. The listeners are
    // installed only around the traced half, so trace.overhead_pct
    // compares calls with and without them.
    if (c.trace) tracer = new Tracer(spark)
    def traced[T](body: => T): T = {
      tracer.install()
      try body finally { tracer.drain(); tracer.uninstall() }
    }
    val cpuT0 = processCpuMs
    val tT0 = System.nanoTime()
    val deadline = tT0 + (c.seconds * 1e9).toLong
    val pairs = ArrayBuffer.empty[(Double, Double)] // (traced ms, untraced ms)
    var pass = 0
    // An untraced run times at least two passes, so every key's median has
    // two samples. With a window shorter than two passes, the count does
    // not change with the host's speed; calls still get slightly faster
    // from pass to pass, so a changing count would move the result.
    val minPasses = if (c.trace) 1 else 2
    def more = System.nanoTime() < deadline || pass < minPasses
    while (more) {
      if (lifecycle) {
        if (c.trace) {
          def tr() = traced(cycle(spark, panel, "traced", traceIt = true))
          def un() = cycle(spark, panel, "timed", traceIt = false)
          val (a, b) = if (pass % 2 == 0) { val a = tr(); (a, un()) } else { val b = un(); (tr(), b) }
          if ((a ++ b).forall(_.err.isEmpty)) pairs += ((a.map(_.ms).sum, b.map(_.ms).sum))
        } else cycle(spark, panel, "timed", traceIt = false)
      } else panel.zipWithIndex.foreach { case (k, i) =>
        if (c.trace) {
          def tr() = traced(invoke(spark, k, "traced", new Inv(s"pb-inv-${calls.size}", k)))
          def un() = invoke(spark, k, "timed")
          val (a, b) = if ((pass + i) % 2 == 0) { val a = tr(); (a, un()) } else { val b = un(); (tr(), b) }
          if (a.err.isEmpty && b.err.isEmpty) pairs += ((a.ms, b.ms))
        } else invoke(spark, k, "timed")
      }
      pass += 1
    }
    val timedS = (System.nanoTime() - tT0) / 1e9
    val timedCpuS = (processCpuMs - cpuT0) / 1e3
    val scratchMb =
      if (lifecycle) Stats.median(cycleScratch.toSeq) else treeBytes(tmp) / 1e6
    mark("timed")

    // --- metrics ---------------------------------------------------------
    val timed = calls.filter(x => x.phase == "timed" && x.err.isEmpty)
    val perKey = timed.groupBy(_.key)
    val okKeys = panel.filter(perKey.contains)
    def perPass(f: Call => Double): Double =
      okKeys.map(k => Stats.median(perKey(k).map(f).toSeq)).sum / 1e3
    val opMs = timed.map(_.ms).toSeq
    val failed = calls.count(_.err.isDefined)
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("wall_s", perPass(_.ms), "s"),
      ("cpu_s", perPass(_.cpuMs), "s"),
    )
    val extra = Seq(
      ("peak_rss_mb", Some(peakRssMb), "MB"),
      ("op_p50_ms", Stats.percentile(opMs, 0.5), "ms"),
      ("op_p90_ms", Stats.percentile(opMs, 0.9), "ms"),
      ("fail_ratio", Some(failed.toDouble / calls.size), "ratio"),
      ("scratch_mb", Some(scratchMb), "MB"),
    )
    graft.ResultPins.releaseAll()
    val heap = Runtime.getRuntime.maxMemory / (1L << 20)
    val conf = spark.conf.getAll.filter { case (k, _) =>
      Seq("spark.master", "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
        "spark.sql.extensions", "spark.sql.session.timeZone").contains(k) }
    spark.stop()
    mark("stop")

    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
    println(s"""{"workload":${q(w)},"info":{"cpus":$cpus,"heap_mb":$heap,"seed":${c.seed},""" +
      s""""rev":${q(c.rev)},"sf":${q(Workloads.sf)},"keys":${Workloads.keys(w).size},""" +
      s""""panel":[${panel.map(q).mkString(",")}],"phases_s":{${phaseAt.map { case (n, t) => s"${q(n)}:${num(t)}" }.mkString(",")}},"timed_s":${num(timedS)},""" +
      s""""timed_cpu_s":${num(timedCpuS)},"passes":$pass,""" +
      s""""per_key_ms":{${okKeys.map(k => s"${q(k)}:${num(Stats.median(perKey(k).map(_.ms).toSeq))}").mkString(",")}},""" +
      s""""conf":{${conf.toSeq.sorted.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString(",")}}}}""")
    // Each (workload, metric) is printed once: the gated metrics in the
    // summary line, the others on their own lines.
    if (!c.trace) extra.foreach { case (n, v, u) =>
      val shown = v.map(num).getOrElse("null")
      val why = if (v.isEmpty) s""","note":"fewer than ${Stats.MinBeyond} samples beyond it"""" else ""
      println(s"""{"workload":${q(w)},"metric":${q(n)},"value":$shown,"unit":${q(u)},"samples":${opMs.size}$why}""")
    }
    val layer: Seq[(String, Double, String)] =
      if (!c.trace) Seq.empty
      else {
        val tr = tracer.done.toSeq
        val m = Layers.metrics(tr, pairs.toSeq)
        m.filterNot(x => Layers.reported(x._1)).foreach { case (n, v, u) =>
          println(s"""{"workload":${q(w)},"layer_metric":${q(n)},"value":${num(v)},"unit":${q(u)},"invocations":${tr.size}}""") }
        Layers.groupLines(w, tr).foreach(println)
        Layers.writeSpans(new File(c.traceOut, s"trace-$w-seed${c.seed}.json"), w, tr)
        m
      }
    val shownMetrics =
      if (c.trace) layer.filter(x => Layers.reported.contains(x._1)) else e2e
    val metricsJson = shownMetrics.map { case (n, v, u) =>
      s"""${q(n)}:{"value":${num(v)},"unit":${q(u)}}""" }.mkString(",")
    println(s"""{"correct":${failed == 0},"attempted":${calls.size},"failed":$failed,"metrics":{$metricsJson}}""")
    (calls.size, failed)
  }
}
