package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer account of one traced op invocation. Filled from listener
  * events (asynchronously) and from the client thread (build time, pins,
  * scratch), read only after the listener queues have drained.
  */
final class Inv(val id: String, val key: String) {
  var startMs, endMs = 0L
  var wallNs, buildNs = 0L
  var analysisMs, optimizationMs, planningMs = 0.0
  var actions = 0
  var stages, tasks, taskFailures = 0
  var delayMs, runMs, cpuMs, gcMs, deserMs = 0.0
  var peakMemBytes = 0L
  var shuffleWrite, shuffleRead, shuffleRecords, spillDisk = 0L
  var fetchWaitMs = 0.0
  var scanBytes, scanRows, outBytes = 0L
  var batches = 0
  var batchMs, commitMs = 0.0
  var stateRows = 0L
  var pinRdds = 0
  var pinBytes, scratchDelta = 0L
  var newFiles = 0
  /** (jobId, submit ms, completion ms) */
  val jobs = ArrayBuffer.empty[(Int, Long, Long)]
  /** (execution id, action name, duration ms) */
  val actionSpans = ArrayBuffer.empty[(Long, String, Double)]
  /** (stream run id, batch id, duration ms) */
  val batchSpans = ArrayBuffer.empty[(String, Long, Long)]

  def buildJobs: Int = jobs.count(_._2 <= startMs + buildNs / 1000000)

  /** Op wall time not covered by any job of this op. */
  def driverGapMs: Double = {
    val iv = jobs.map(j => (math.max(j._2, startMs), math.min(j._3, endMs)))
      .filter(x => x._2 > x._1).sortBy(_._1)
    var covered = 0L
    var (cs, ce) = (-1L, -1L)
    iv.foreach { case (s, e) =>
      if (s > ce) { if (ce > cs) covered += ce - cs; cs = s; ce = e }
      else ce = math.max(ce, e)
    }
    if (ce > cs) covered += ce - cs
    math.max(0.0, wallNs / 1e6 - covered)
  }
}

/** Outside-in tracer: a SparkListener, a QueryExecutionListener and a
  * StreamingQueryListener, attributing every job, stage, task, action and
  * micro-batch to the invocation whose job group (or, for a stream, whose
  * `start()`) caused it. Installed only around traced invocations, so
  * untraced calls run with no listener of its own.
  */
final class Tracer(spark: SparkSession) {
  @volatile private var current: Inv = null
  private val byGroup = new ConcurrentHashMap[String, Inv]()
  private val byStage = new ConcurrentHashMap[Int, Inv]()
  private val byJob = new ConcurrentHashMap[Int, (Inv, Long)]()
  private val actions = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution, Long)]()
  @volatile private var lastEventNs = System.nanoTime()
  val done = ArrayBuffer.empty[Inv]

  def begin(inv: Inv): Unit = { byGroup.put(inv.id, inv); current = inv }
  def end(inv: Inv): Unit = { current = null; done += inv }

  private def touch(): Unit = lastEventNs = System.nanoTime()
  private def groupOf(p: java.util.Properties): Inv =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
      .map(byGroup.get).orNull

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val inv = groupOf(e.properties)
      if (inv != null) {
        touch()
        e.stageIds.foreach(byStage.put(_, inv))
        byJob.put(e.jobId, (inv, e.time))
        inv.synchronized { inv.stages += e.stageIds.size }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = byJob.remove(e.jobId)
      if (j != null) {
        touch()
        val (inv, t0) = j
        inv.synchronized { inv.jobs += ((e.jobId, t0, e.time)) }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val inv = byStage.get(e.stageId)
      if (inv != null) inv.synchronized {
        touch()
        inv.tasks += 1
        if (!e.taskInfo.successful) inv.taskFailures += 1
        val m = e.taskMetrics
        if (m != null) {
          val info = e.taskInfo
          val run = m.executorRunTime.toDouble
          inv.runMs += run
          inv.cpuMs += m.executorCpuTime / 1e6
          inv.gcMs += m.jvmGCTime
          inv.deserMs += m.executorDeserializeTime
          inv.delayMs += math.max(0.0, info.duration - run - m.executorDeserializeTime -
            m.resultSerializationTime - info.gettingResultTime)
          inv.peakMemBytes = math.max(inv.peakMemBytes, m.peakExecutionMemory)
          inv.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          inv.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          inv.shuffleRecords += m.shuffleReadMetrics.recordsRead
          inv.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          inv.spillDisk += m.diskBytesSpilled
          inv.scanBytes += m.inputMetrics.bytesRead
          inv.scanRows += m.inputMetrics.recordsRead
          inv.outBytes += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  /** Attribute the recorded actions by time: the listener is not told
    * the execution's job group, but with one client thread every action
    * whose planning started inside a traced invocation's interval is that
    * invocation's (its micro-batches included: the op waits for them).
    */
  private def attributeActions(): Unit = {
    var a = actions.poll()
    while (a != null) {
      val (func, qe, ns) = a
      val ph = qe.tracker.phases
      val t = if (ph.isEmpty) -1L else ph.values.map(_.startTimeMs).min
      val inv = done.find(i => i.startMs <= t && t <= i.endMs).orNull
      if (inv != null) {
        def ms(p: String) = ph.get(p).map(x => (x.endTimeMs - x.startTimeMs).toDouble).getOrElse(0.0)
        inv.analysisMs += ms("analysis")
        inv.optimizationMs += ms("optimization")
        inv.planningMs += ms("planning")
        inv.actions += 1
        inv.actionSpans += ((qe.id, func, ns / 1e6))
      }
      a = actions.poll()
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit = {
      touch(); actions.add((func, qe, ns))
    }
    override def onFailure(func: String, qe: QueryExecution, ex: Exception): Unit = {
      touch(); actions.add((func, qe, 0L))
    }
  }

  private val streamListener = new StreamingQueryListener {
    // Called synchronously inside DataStreamWriter.start(), on the client
    // thread, so `current` is the invocation that started the query; its
    // jobs then run under the run id as job group.
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      val inv = current
      if (inv != null) byGroup.put(e.runId.toString, inv)
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val inv = byGroup.get(p.runId.toString)
      if (inv != null) inv.synchronized {
        touch()
        val d = p.durationMs.asScala
        val ms = d.get("triggerExecution").map(_.toLong).getOrElse(0L)
        inv.batches += 1
        inv.batchMs += ms
        inv.commitMs += d.get("walCommit").map(_.toLong).getOrElse(0L) +
          d.get("commitOffsets").map(_.toLong).getOrElse(0L)
        inv.stateRows += p.stateOperators.map(_.numRowsTotal).sum
        inv.batchSpans += ((p.runId.toString, p.batchId, ms))
      }
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Wait until every traced job has ended and the queues have been quiet
    * for a moment (listener delivery is asynchronous).
    */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 20L * 1000000000L
    while (System.nanoTime() < deadline &&
        (!byJob.isEmpty || System.nanoTime() - lastEventNs < 500L * 1000000L))
      Thread.sleep(50)
    attributeActions()
  }
}
