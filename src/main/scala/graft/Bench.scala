package graft
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
object Bench {
  /** Shared bench environment: tmpfs scratch, the session, and the two
    * warm passes — used by both the one-shot sweep ([[main]]) and the
    * key-at-a-time [[BenchServer]]. Returns (session, sfDir,
    * warm-failure count).
    */
  private[graft] def warmedSession(): (SparkSession, String, Int) = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    Session.useTmpfsScratch()
    val spark = Session()
    // Warm the JVM/codegen paths: run the ENTIRE suite once at sf0.001
    // (tiny data) before timing. Each query's whole-stage-codegen source
    // is identical across sf dirs (paths live in the scan node, not the
    // generated code), so the janino compile + C2 JIT of every generated
    // class, the shuffle/join/stream machinery, and the state-store setup
    // all land in the warm-up, leaving the timed loop to measure actual
    // data-path throughput — what a long-lived cluster session sees.
    val warmDir = "/root/testdata/sf0.001"
    var warmFails = 0
    def warm(dir: String): Unit = SparkEntry.queries.foreach { case (name, fn) =>
      try consume(fn(spark, dir))
      catch { case t: Throwable =>
        warmFails += 1
        System.err.println(s"warmup($dir) FAILED $name: ${t.getClass.getSimpleName}")
      }
    }
    if (new java.io.File(warmDir).isDirectory) warm(warmDir)
    // Second warm pass at the bench tier itself: AQE re-plans some joins
    // differently at sf0.001 (broadcast) vs the bench sf (sort-merge), so
    // those queries' generated classes are still cold after the small-sf
    // pass.
    warm(sfDir)
    (spark, sfDir, warmFails)
  }

  /** Runs `df`'s whole plan, its final sort included, and reads every row
    * and column of the result on the executors: what a client fetching
    * the result pays for, as DuckDB's `fetchall()` does on the other side
    * of tools/bench_paired.py. `count()` would let Catalyst drop the sort
    * and every column it does not need.
    */
  private[graft] def consume(df: DataFrame): Unit =
    df.foreachPartition((rows: Iterator[Row]) => rows.foreach(_ => ()))

  /** Min-of-2 timing of one key (crash = loud failure, never a time):
    * the one timing path of Bench, BenchServer and the probe CLI. The
    * minimum of two back-to-back reps bounds a one-off host/GC spike.
    */
  private[graft] def timeKey(spark: SparkSession, sfDir: String,
      fn: (SparkSession, String) => DataFrame): (Double, Option[String]) = {
    // Collect garbage OUTSIDE the timed region, so a collection of the
    // warm passes' floating garbage never lands inside a timed query.
    def rep(): (Double, Option[String]) = {
      System.gc()
      val t0 = System.nanoTime()
      val err = try { consume(fn(spark, sfDir)); None }
                catch { case t: Throwable => Some(t.getClass.getSimpleName) }
      ((System.nanoTime() - t0) / 1e9, err)
    }
    val (t1, e1) = rep()
    if (e1.isDefined) (t1, e1) // crashed: no second rep, loud-fail
    else {
      val (t2, e2) = rep()
      // A second-rep crash after a clean first rep is flakiness, not
      // throughput — surface it as a failure, never average it away.
      if (e2.isDefined) (t1, e2) else (math.min(t1, t2), None)
    }
  }

  def main(args: Array[String]): Unit = {
    val (spark, sfDir, warmFails) = warmedSession()
    // A crashed query is NOT a timing: its error class is recorded per
    // query, counted in every summary line, and makes the exit non-zero.
    val results: Seq[(String, Double, Option[String])] =
      SparkEntry.queries.toSeq.map { case (name, fn) =>
        val (t, e) = timeKey(spark, sfDir, fn)
        (name, t, e)
      }
    val failed = results.collect { case (name, _, Some(e)) => name -> e }
    // Callers often keep only a bounded tail of stdout, so per-query
    // times go out as small lines first, the full map as one
    // "total_full" line (plus full-precision bench_full.json), and the
    // VERY LAST line is a compact total that fits any tail window.
    def r3(v: Double): String = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    results.foreach { case (k, v, err) =>
      val e = err.map(c => s""","err":"$c"""").getOrElse("")
      println(s"""{"metric":"query","name":"$k","value":${r3(v)},"unit":"sec"$e}""")
    }
    // Crashed queries are excluded from the total (their elapsed is
    // time-to-crash, not work) and reported via failed/errors instead.
    val timed = results.collect { case (k, v, None) => k -> v }
    val total = timed.map(_._2).sum
    val qs3 = timed.map { case (k, v) => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    val qsFull = timed.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val errsJson = failed.map { case (k, e) => "\"" + k + "\":\"" + e + "\"" }.mkString("{", ",", "}")
    try {
      val w = new java.io.PrintWriter("bench_full.json")
      w.println(s"""{"metric":"total","value":$total,"unit":"sec","failed":${failed.size},"warm_fails":$warmFails,"errors":$errsJson,"queries":$qsFull,"sf":"$sfDir"}""")
      w.close()
    } catch { case _: Throwable => () }
    println(s"""{"metric":"total_full","unit":"sec","sf":"$sfDir","failed":${failed.size},"errors":$errsJson,"queries":$qs3,"value":${r3(total)}}""")
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","failed":${failed.size},"n":${timed.size},"sf":"$sfDir"}""")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
