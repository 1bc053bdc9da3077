package perfbench

/** The benchmark's own checks: the percentile rule, seed reproducibility
  * of the key sequence, and that a wrong golden digest is caught.
  */
object Selftest {
  private def expect(ok: Boolean, what: String): Unit = {
    println(s"${if (ok) "PASS" else "FAIL"} $what")
    if (!ok) sys.exit(1)
  }

  def run(data: String, root: String, keysFile: String): Unit = {
    val xs = (1 to 100).map(_.toDouble)
    expect(Stats.percentile(xs, 0.9).contains(90.0), "p90 of 100 samples is reported (10 beyond)")
    expect(Stats.percentile(xs.take(99), 0.9).isEmpty, "p90 of 99 samples is withheld (9 beyond)")
    expect(Stats.percentile(xs.take(20), 0.5).contains(10.0), "p50 of 20 samples is reported")
    expect(Stats.percentile(xs.take(19), 0.5).isEmpty, "p50 of 19 samples is withheld")

    val all = Workloads.names.flatMap(Workloads.keys)
    expect(all.size == graft.SparkEntry.queries.size && all.toSet == graft.SparkEntry.queries.keySet,
      s"the workloads cover all ${graft.SparkEntry.queries.size} keys exactly once")
    val keys = KeyTable.load(keysFile)
    Workloads.names.foreach { w =>
      val a = Workloads.panel(w, 42, keys.refMs)
      expect(a == Workloads.panel(w, 42, keys.refMs), s"$w: the same seed gives the same key sequence")
      expect(a.toSet == Workloads.strata(w, keys.refMs).toSet, s"$w: every seed times the same panel")
      if (w != "lifecycle") expect((1 to 5).exists(s => Workloads.panel(w, s, keys.refMs) != a),
        s"$w: other seeds give other key orders")
    }

    // A copy of keys.tsv with every golden hash flipped, run as usual.
    val wrongKeys = new java.io.File(root, "keys.wrong.tsv").getPath
    val src = scala.io.Source.fromFile(keysFile)
    val lines = try src.getLines().toList finally src.close()
    val out = new java.io.PrintWriter(wrongKeys)
    try lines.foreach { l =>
      val f = l.split("\t")
      if (f.length > 4 && f(3) == "golden") {
        val g = Digest.parse(f(4))
        f(4) = g.copy(hash = ~g.hash).toString
      }
      out.println(f.mkString("\t"))
    } finally out.close()
    val (attempted, failed) = Bench.run(Bench.Conf(workload = "interactive", seed = 1,
      seconds = 0.1, trace = false, data = data, root = root, keysFile = wrongKeys,
      traceOut = root, rev = "selftest"))
    expect(failed > 0 && attempted > 0,
      s"a wrong golden digest drives fail_ratio above 0 ($failed/$attempted)")
  }
}
