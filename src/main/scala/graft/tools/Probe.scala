package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import graft.{Bench, ResultPins, Session, SparkEntry}

/** The profiling CLI over the keyed ops, in the bench's session conf
  * (tmpfs scratch) at the tier SPARK_GRAFT_SF_DIR names (required):
  *
  * {{{
  *   time <k1,k2,…> [reps]        one warm call per key, then `reps` rounds
  *                                interleaving the keys round-robin, each
  *                                through Bench.timeKey; prints min, median
  *                                and Spark jobs per round
  *   jobs <key>                   duration and description of every Spark
  *                                job of one warm call
  *   plan <tag> <suffix> <keys…>  formatted plan, plus the pre-pin plan of
  *                                pinned ops, to plans/<tag>/<key>_<suffix>.txt
  * }}}
  *
  * Usage: `SPARK_GRAFT_SF_DIR=<sfDir> sbt "runMain graft.tools.Probe time agg_group_summary,vec_cosine_topk 5"`
  */
object Probe {
  private val usage = "usage: SPARK_GRAFT_SF_DIR=<sfDir> Probe " +
    "time <k1,k2,...> [reps] | jobs <key> | plan <tag> <suffix> <keys...>"

  def main(args: Array[String]): Unit = {
    val mode: SparkSession => Unit = (sys.env.get("SPARK_GRAFT_SF_DIR"), args.toList) match {
      case (Some(sf), "time" :: keys :: rest) if rest.size <= 1 =>
        time(_, sf, keys.split(",").toSeq, rest.headOption.fold(5)(_.toInt))
      case (Some(sf), List("jobs", key)) => jobs(_, sf, key)
      case (Some(sf), "plan" :: tag :: suffix :: keys) if keys.nonEmpty => plan(_, sf, tag, suffix, keys)
      case _ => System.err.println(usage); sys.exit(2)
    }
    Session.useTmpfsScratch()
    val spark = Session()
    try mode(spark) finally spark.stop()
  }

  /** Every finished Spark job as (id, seconds, description), timed by the
    * scheduler's own event stamps.
    */
  private final class JobLog extends SparkListener {
    private val starts = new ConcurrentHashMap[Int, (Long, String)]()
    val done = new ConcurrentLinkedQueue[(Int, Double, String)]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      // The job's description when one is set, else its call site.
      val desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
        .orElse(e.stageInfos.maxByOption(_.stageId).map(_.name))
      starts.put(e.jobId, (e.time, desc.getOrElse(""))): Unit
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(starts.remove(e.jobId)).foreach { case (t0, desc) =>
        done.add((e.jobId, (e.time - t0) / 1e3, desc))
      }
  }

  /** Runs `body` with a [[JobLog]] on the listener bus, then lets the
    * asynchronous bus deliver the last job-end events.
    */
  private def withJobLog[T](spark: SparkSession)(body: JobLog => T): T = {
    val log = new JobLog
    spark.sparkContext.addSparkListener(log)
    try body(log) finally {
      Thread.sleep(300)
      spark.sparkContext.removeSparkListener(log)
    }
  }

  private def warm(spark: SparkSession, sf: String, key: String): Unit =
    try Bench.consume(SparkEntry.queries(key)(spark, sf))
    catch { case t: Throwable => println(s"[probe] warm $key FAILED: $t") }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 0) (s(m - 1) + s(m)) / 2 else s(m)
  }

  private def time(spark: SparkSession, sf: String, keys: Seq[String], reps: Int): Unit = {
    val fns = keys.map(k => k -> SparkEntry.queries(k))
    keys.foreach(warm(spark, sf, _))
    val rounds = withJobLog(spark) { log =>
      for (_ <- 1 to reps; (k, fn) <- fns) yield {
        val before = log.done.size
        val (t, err) = Bench.timeKey(spark, sf, fn)
        Thread.sleep(300) // this round's job-end events, before the next round starts
        (k, t, err, log.done.size - before)
      }
    }
    keys.foreach { k =>
      val rs = rounds.filter(_._1 == k)
      val ok = rs.collect { case (_, t, None, _) => t }
      val errs = rs.flatMap(_._3).distinct
      val stats =
        if (ok.isEmpty) "FAILED"
        else f"min=${ok.min}%.3f med=${median(ok)}%.3f jobs/round=${rs.map(_._4).sum.toDouble / rs.size}%.1f"
      val err = if (errs.isEmpty) "" else s" errors=${errs.mkString(",")}"
      println(f"[probe] time $k%-36s $stats rounds=${rs.map(r => f"${r._2}%.3f").mkString(",")}$err")
    }
  }

  private def jobs(spark: SparkSession, sf: String, key: String): Unit = {
    val fn = SparkEntry.queries(key)
    warm(spark, sf, key)
    val (wall, js) = withJobLog(spark) { log =>
      val t0 = System.nanoTime()
      Bench.consume(fn(spark, sf))
      ((System.nanoTime() - t0) / 1e9, log)
    }
    val rows = js.done.asScala.toSeq.sortBy(_._1)
    println(f"[probe] jobs $key wall=$wall%.3f jobs=${rows.size} jobwall=${rows.map(_._2).sum}%.3f")
    rows.foreach { case (id, d, desc) => println(f"[probe]   job=$id%-4d $d%.3f s  ${desc.take(80)}") }
  }

  private def plan(spark: SparkSession, sf: String, tag: String, suffix: String,
      keys: Seq[String]): Unit = {
    // Pinned ops return a plan truncated at the pin; this records the
    // plan that ran inside the pin's scope (ResultPins.lastPlan).
    System.setProperty("graft.plan.capture", "1")
    val dir = Files.createDirectories(Paths.get("plans", tag))
    keys.foreach { k =>
      // The warm call commits any persisted index artifacts, so the plan
      // is the steady-state serve path the bench times.
      warm(spark, sf, k)
      val outer = SparkEntry.queries(k)(spark, sf).queryExecution.explainString(FormattedMode)
      val text = ResultPins.lastPlan(s"$k@$sf").fold(outer) { inner =>
        s"$outer\n== Pre-pin plan (executed inside the op's conf scope, ResultPins key $k@$sf) ==\n$inner"
      }
      val out = dir.resolve(s"${k}_$suffix.txt")
      Files.writeString(out, text)
      println(s"[probe] wrote $out")
    }
  }
}
