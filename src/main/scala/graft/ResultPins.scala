package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, GraftFrames, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one owner of session-held relations: which materialized relations
  * stay in the block manager, and when they are freed. Three kinds:
  *
  *  - RESULT pins ([[swap]]), one per op key. Ops pin their final result
  *    to truncate the logical plan before the output sort. Registering a
  *    pin under its key SWAPS OUT the previous invocation's pin
  *    (non-blocking unpersist), so the block manager holds at most ONE
  *    result pin per (op, corpus): a long-lived session (a bench sweep, a
  *    notebook) stays flat instead of gaining one pinned RDD per
  *    invocation (ResultPinsSpec). [[release]] frees one key,
  *    [[releaseAll]] every pin.
  *  - Per-corpus MEMOS ([[memo]]): a trained model or a shared graph,
  *    built once per (session, sfDir, kind, input fingerprint) and kept
  *    until [[forget]] drops its kind or a rewritten input supersedes
  *    it. [[releaseAll]] leaves them alone: a long session re-serves
  *    them across pin teardowns.
  *  - SCOPED intermediates ([[scoped]]): pinned for one op's body and
  *    freed when it exits, also on exception.
  *
  * Pins and scoped intermediates share one mechanism ([[materialize]]),
  * which keeps the lineage: a frame still held after its pin was swapped
  * out or its scope exited recomputes on demand; only its cached blocks
  * are gone. Memo builds checkpoint locally, which truncates lineage, so
  * a memo's relations are valid only until [[forget]] drops them or a
  * rewritten input supersedes them.
  */
object ResultPins {
  /** Every registered result pin: key -> the RDDs whose blocks it holds. */
  private val pins = new java.util.concurrent.ConcurrentHashMap[String, Seq[RDD[_]]]()

  private def register(key: String, held: Seq[RDD[_]]): Unit = {
    val old = pins.put(key, held)
    if (old != null) old.filterNot(held.contains).foreach(_.unpersist(false))
  }

  /** Persist `df`'s InternalRows (at `localCheckpoint`'s storage level,
    * with no Row decode or re-encode) and count them once. The returned
    * frame's plan starts at the persisted RDD, so later plans over it
    * neither recompute nor re-analyze the lineage, and its leaf reports
    * the exact row count and a size from it: sorts and joins over a
    * small pin plan as over any small relation ([[GatherSmallPlan]]).
    */
  private def materialize(s: SparkSession, df: DataFrame): (DataFrame, RDD[InternalRow], Long) = {
    val rdd = df.queryExecution.toRdd.map(_.copy()).persist(StorageLevel.MEMORY_AND_DISK)
    val n = rdd.count()
    (GraftFrames.ofRows(s, df.schema, rdd, n), rdd, n)
  }

  /** Materialize and pin `df`'s rows, replacing (and freeing) the
    * previous pin registered under `key`. Returns the rewrapped DataFrame,
    * plan truncated at the pinned RDD. Every op that pins its result
    * registers it here rather than persisting on its own: an unregistered
    * pin stays in the block manager for the rest of the session, one more
    * per invocation.
    */
  def swap(s: SparkSession, key: String, df: DataFrame): DataFrame = {
    capturePlan(key, df)
    val (out, rdd, _) = materialize(s, df)
    register(key, Seq(rdd))
    out
  }

  /** The row count a pin took while materializing `pinned` (a frame
    * [[swap]] returned), read from its leaf: no job.
    */
  def rowCount(pinned: DataFrame): Long =
    pinned.queryExecution.analyzed.stats.rowCount.get.toLong

  private def checkpointRdds(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.analyzed.collect {
      case l: LogicalRDD => l.rdd
    }

  /** Free the block-manager storage behind a localCheckpointed DataFrame
    * NOW rather than when the ContextCleaner gets to the orphaned RDD.
    * No-op on plans that were never checkpointed.
    */
  def releaseCheckpoint(df: DataFrame): Unit =
    checkpointRdds(df).foreach(_.unpersist(false))

  /** OPT-IN plan observability: pinning materializes a result and
    * rewraps it over the pinned RDD, which TRUNCATES the visible plan of
    * the returned DataFrame: `explain` on a pinned op shows only the
    * RDD scan + output sort. When the `graft.plan.capture` system
    * property is set (plan-audit tooling only, never the bench; the
    * formatted-explain render costs milliseconds per invocation), the
    * pre-pin physical plan is recorded per pin key so audits can read
    * the dataflow that actually executed inside the scope.
    */
  private val planLog = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def capturePlan(key: String, df: DataFrame): Unit =
    if (sys.props.contains("graft.plan.capture"))
      planLog.put(key, df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)): Unit

  /** The last captured pre-pin plan for `key`, if capture is enabled. */
  def lastPlan(key: String): Option[String] = Option(planLog.get(key))

  /** Release only the pin registered under `key`: specs that must clear
    * ONE op's by-design pin before a leak assertion keep every other pin,
    * and any genuine leak routed through ResultPins, on the witness
    * surface.
    */
  def release(key: String): Unit = {
    val held = pins.remove(key)
    if (held != null) held.foreach(_.unpersist(false))
  }

  /** Release every registered result pin (long-session / spec hygiene).
    * Memos are not pins and survive: a bench cycle that starts with
    * releaseAll must not retrain the PQ model.
    */
  def releaseAll(): Unit = {
    import scala.jdk.CollectionConverters._
    pins.keySet().asScala.toList.foreach(release)
  }

  /** Per-corpus memo store, keyed (session, sfDir, kind, variant, inputs). */
  private val memos = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String, String, String), AnyRef]()

  /** The relation(s) `build` makes for `sf`, built once per session and
    * input version: `inputs` is the caller's fingerprint of the tables
    * the build reads, so a regenerated fixture builds afresh instead of
    * serving the old corpus, and `variant` names a build parameter whose
    * values live side by side (a batch residue). A miss first releases
    * the entries of the same (session, sfDir, kind) built from other
    * inputs: they describe a corpus that no longer exists, and would
    * otherwise hold their checkpoints until [[forget]]. Builds are
    * order-free-deterministic, so the memo is semantically invisible.
    * get / putIfAbsent rather than computeIfAbsent: a build runs
    * multi-job Spark work, which must not execute inside the map's bin
    * lock. A duplicate build that loses the race releases every
    * checkpointed Dataset in what it built and adopts the winner's.
    */
  def memo[T <: AnyRef](s: SparkSession, sf: String, kind: String, inputs: String,
      variant: String = "")(build: => T): T = {
    val k = (s, sf, kind, variant, inputs)
    val hit = memos.get(k)
    if (hit != null) hit.asInstanceOf[T]
    else {
      drop(o => o._1 == s && o._2 == sf && o._3 == kind && o._5 != inputs)
      val built = build
      val raced = memos.putIfAbsent(k, built)
      if (raced == null) built
      else { releaseMemo(built); raced.asInstanceOf[T] }
    }
  }

  private def drop(which: ((SparkSession, String, String, String, String)) => Boolean): Unit = {
    import scala.jdk.CollectionConverters._
    memos.keySet().asScala.toList.filter(which).foreach { k =>
      val v = memos.remove(k)
      if (v != null) releaseMemo(v)
    }
  }

  private def releaseMemo(v: AnyRef): Unit = {
    def rel(x: Any): Unit = x match {
      case d: Dataset[_] => releaseCheckpoint(d.toDF())
      case _             => ()
    }
    v match {
      case p: Product => p.productIterator.foreach(rel)
      case other      => rel(other)
    }
  }

  /** Drop every memo of the given kinds, in every session and corpus,
    * AND release its checkpointed storage: retrain specs and long-lived
    * sessions scoring many sfDirs both need the executor storage back,
    * not just the entries gone.
    */
  def forget(kinds: String*): Unit = drop(k => kinds.contains(k._3))

  /** Run `body` with a pin for loop and multi-use intermediates: the pin
    * materializes a frame as a persisted RDD and returns the rewrapped
    * frame (plan truncated at the pin, which `persist` alone does not do)
    * and its row count. Every pin taken in `body` is freed when it exits,
    * also on exception. A result that must outlive the scope is pinned
    * with [[swap]] inside the body.
    */
  def scoped[T](s: SparkSession)(body: (DataFrame => (DataFrame, Long)) => T): T = {
    var held = List.empty[RDD[InternalRow]]
    try body { df =>
      val (out, rdd, n) = materialize(s, df)
      held ::= rdd
      (out, n)
    } finally held.foreach(_.unpersist(false))
  }
}
