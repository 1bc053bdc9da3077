package perfbench

/** `perfbench.Main <run|capture|selftest> --flag value ...`; see run.py,
  * which builds the classpath and owns the scratch root.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    val kv = args.drop(1).grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    mode match {
      case "run" =>
        val (_, failed) = Bench.run(Bench.Conf(
          workload = arg("workload"), seed = arg("seed").toLong,
          seconds = arg("seconds").toDouble, trace = arg("trace") == "1",
          data = arg("data"), root = arg("root"), keysFile = arg("keys"),
          traceOut = arg("trace-out"), rev = arg("rev")))
        if (failed > 0) sys.exit(3)
      case "capture" => Capture.run(arg("data"), arg("root"), arg("out"), arg("calls").toInt)
      case "selftest" => Selftest.run(arg("data"), arg("root"), arg("keys"))
      case other => sys.error(s"unknown mode '$other' (run|capture|selftest)")
    }
  }
}
