package graft

/** Key-at-a-time bench server: the Spark half of the interleaved paired
  * ledger. tools/bench_paired.py asks it to time key k (same warmed
  * session and min-of-2 discipline as [[Bench]]), then times DuckDB's
  * oracle SQL for k right after, so both engines see the same host
  * window.
  *
  * Protocol (line-oriented over stdin/stdout, JSON out):
  *   → (after warmup) {"ready":true,"warm_fails":N,"keys":[...]}
  *   ← <key>\n        → {"key":"<key>","sec":T,"cpu_sec":C} or {...,"err":"Cls"}
  *   ← EXIT\n         → session stops, process exits 0.
  *
  * cpu_sec is the JVM-wide process CPU across both of the key's reps
  * (the MX bean cannot split it per rep): a wall spike with flat CPU is
  * external contention, wall and CPU moving together is a plan change.
  */
object BenchServer {
  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def main(args: Array[String]): Unit = {
    val (spark, sfDir, warmFails) = Bench.warmedSession()
    val keys = SparkEntry.queries.keys.toSeq.sorted
    val keyList = keys.map("\"" + _ + "\"").mkString("[", ",", "]")
    println(s"""{"ready":true,"warm_fails":$warmFails,"sf":"$sfDir","keys":$keyList}""")
    Console.out.flush()
    var line = scala.io.StdIn.readLine()
    while (line != null && line.trim != "EXIT") {
      val key = line.trim
      if (key.nonEmpty) {
        SparkEntry.queries.get(key) match {
          case None =>
            println(s"""{"key":"$key","err":"unknown_key"}""")
          case Some(fn) =>
            val cpu0 = osBean.getProcessCpuTime
            val (t, e) = Bench.timeKey(spark, sfDir, fn)
            val cpu1 = osBean.getProcessCpuTime
            val es = e.map(c => s""","err":"$c"""").getOrElse("")
            // Locale.ROOT: under a comma-decimal default locale an
            // f-interpolated %.3f emits invalid JSON. getProcessCpuTime
            // returns -1 where unsupported — omit the column rather
            // than emit a nonsense negative.
            val cs =
              if (cpu0 < 0 || cpu1 < 0) ""
              else String.format(java.util.Locale.ROOT,
                ""","cpu_sec":%.3f""", Double.box((cpu1 - cpu0) / 1e9))
            println(s"""{"key":"$key","sec":$t$cs$es}""")
        }
        Console.out.flush()
      }
      line = scala.io.StdIn.readLine()
    }
    spark.stop()
  }
}
