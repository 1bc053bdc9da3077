package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.optimizer.RewriteDistinctAggregates
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.logical.{Expand, Filter, HintInfo, Join, JoinHint, LeafNode, LogicalPlan, Project, RebalancePartitions, Repartition, RepartitionOperation, SHUFFLE_HASH, Sort, Subquery, Union}
import org.apache.spark.sql.catalyst.rules.Rule

import graft.functions.{ExplodeDnf, FloatVecDot, MaskIntersect, SimHash60, VecNearest, VecTopK}

/** Session-extension entry point: registers the engine's custom Catalyst
  * expressions and the [[GatherSmallPlan]] optimizer rule at session
  * build time —
  *
  * {{{
  *   builder.withExtensions(new GraftExtensions)   // or
  *   builder.config("spark.sql.extensions", "graft.GraftExtensions")
  * }}}
  *
  * This is the deployment path for a cluster (spark.sql.extensions works
  * from pure config, no code changes at the call site). The operator
  * library also self-registers via [[graft.functions.FloatVecDot.register]]
  * so the ops work on any plain session — the two paths install the same
  * function.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions.checkArity

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[FloatVecDot].getName, "vec_dot"),
      (children: Seq[Expression]) => {
        checkArity("vec_dot", "vec_dot(a ARRAY<FLOAT>, b ARRAY<FLOAT>)", 2, children)
        FloatVecDot(children.head, children(1))
      },
    ))
    ext.injectFunction((
      FunctionIdentifier("vec_nearest"),
      new ExpressionInfo(classOf[VecNearest].getName, "vec_nearest"),
      (children: Seq[Expression]) => {
        checkArity("vec_nearest", VecNearest.signature, 5, children)
        VecNearest(children(0), children(1), children(2), children(3), children(4))
      },
    ))
    ext.injectFunction((
      FunctionIdentifier("vec_topk"),
      new ExpressionInfo(classOf[VecTopK].getName, "vec_topk"),
      (children: Seq[Expression]) => {
        checkArity("vec_topk", "vec_topk(id BIGINT, measure DOUBLE, k INT literal)", 3, children)
        VecTopK(children(0), children(1), children(2))
      },
    ))
    ext.injectFunction((
      FunctionIdentifier("simhash60"),
      new ExpressionInfo(classOf[SimHash60].getName, "simhash60"),
      (children: Seq[Expression]) => {
        checkArity("simhash60", "simhash60(hashes ARRAY<BIGINT>)", 1, children)
        SimHash60(children.head)
      },
    ))
    ext.injectFunction((
      FunctionIdentifier("mask_intersect"),
      new ExpressionInfo(classOf[MaskIntersect].getName, "mask_intersect"),
      (children: Seq[Expression]) => {
        checkArity("mask_intersect", "mask_intersect(a ARRAY<BIGINT>, b ARRAY<BIGINT>)", 2, children)
        MaskIntersect(children.head, children(1))
      },
    ))
    ext.injectFunction((
      FunctionIdentifier("explode_dnf"),
      new ExpressionInfo(classOf[ExplodeDnf].getName, "explode_dnf"),
      (children: Seq[Expression]) => {
        checkArity("explode_dnf", "explode_dnf(rule STRING)", 1, children)
        ExplodeDnf(children.head)
      },
    ))
    ext.injectPreCBORule(_ => GatherSmallPlan)
  }
}

/** Runs a small batch plan as one stage. When a plan's leaves together
  * are estimated at or under `spark.sql.autoBroadcastJoinThreshold` (the
  * bound under which a broadcast ships a whole relation to one task;
  * `-1` turns this rule off, as it does broadcasts), it
  *
  *  - puts a shuffle-free coalesce to one partition above each scan's
  *    Project/Filter chain, and above each Union and Expand, whose output
  *    would otherwise span several partitions (the Expand that several
  *    distinct aggregates plan into is written out here, ahead of the
  *    optimizer's own later rewrite, so it is gathered too). A single
  *    partition satisfies every clustered, ordered and all-tuples
  *    distribution, so aggregates, windows and sorts above it plan no
  *    hash or range exchange, and a sort runs no sampling job;
  *  - plans each equi-join that carries no hint as a shuffled-hash join
  *    (a `SHUFFLE_HASH` hint on both sides). With both sides on one
  *    partition the join needs no exchange; left alone, the planner would
  *    broadcast the smaller side, and that broadcast is a job of its own.
  *
  * The plan is left as it is when it is streaming, when it asks for its
  * own parallelism (a shuffling repartition or a rebalance), when a leaf
  * has no size estimate or a large one (every 100 TB scan), or when it
  * holds a nondeterministic expression, whose values depend on the
  * partition layout it runs on.
  *
  * Otherwise the rule still gathers each global sort whose input alone is
  * estimated under the bound and does not repartition itself, so a large
  * plan that ends in a small aggregate sorts it without a range exchange
  * and its sampling job.
  */
object GatherSmallPlan extends Rule[LogicalPlan] {
  private val shuffleHash = JoinHint(Some(HintInfo(Some(SHUFFLE_HASH))), Some(HintInfo(Some(SHUFFLE_HASH))))

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val limit = conf.autoBroadcastJoinThreshold
    if (limit < 0 || plan.isStreaming) plan
    else if (!plan.exists(spreads) && plan.collectLeaves().map(_.stats.sizeInBytes).sum <= limit &&
        !plan.exists(_.expressions.exists(!_.deterministic))) root(RewriteDistinctAggregates(plan))
    else plan.transformUp {
      case s @ Sort(_, true, child, _)
          if !gathered(child) && !child.exists(spreads) && child.stats.sizeInBytes <= limit =>
        s.copy(child = Repartition(1, shuffle = false, child))
    }
  }

  /** The root keeps its shape: a bare scan needs no gather, and callers
    * that optimize a one-row Project (parameter binding, one-row
    * subqueries) expect one back.
    */
  private def root(p: LogicalPlan): LogicalPlan = p match {
    case s: Subquery => s.copy(child = root(s.child))
    case _ => within(p)
  }

  /** `p` with every scan chain, Union and Expand below or at it gathered
    * and its unhinted equi-joins planned shuffled-hash.
    */
  private def gather(p: LogicalPlan): LogicalPlan = within(p) match {
    case q @ (_: Union | _: Expand) => Repartition(1, shuffle = false, q)
    case q if scan(q) => Repartition(1, shuffle = false, q)
    case q => q
  }

  private def within(p: LogicalPlan): LogicalPlan = p match {
    case _ if scan(p) => p
    case r @ Repartition(1, false, child) => r.copy(child = within(child))
    case j: Join if j.hint == JoinHint.NONE && ExtractEquiJoinKeys.unapply(j).isDefined =>
      j.copy(left = gather(j.left), right = gather(j.right), hint = shuffleHash)
    case _ => p.mapChildren(gather)
  }

  private def scan(p: LogicalPlan): Boolean = p match {
    case _: LeafNode => true
    case Project(_, child) => scan(child)
    case Filter(_, child) => scan(child)
    case _ => false
  }

  private def gathered(p: LogicalPlan): Boolean = p match {
    case Repartition(1, false, _) => true
    case _ => false
  }

  private def spreads(p: LogicalPlan): Boolean = p match {
    case r: RepartitionOperation => r.shuffle
    case _: RebalancePartitions => true
    case _ => false
  }
}

object GraftExtensions {
  /** Clean analysis-time arity error instead of the builder's
    * IndexOutOfBoundsException on a wrong-arg-count call.
    */
  def checkArity(fn: String, sig: String, n: Int, children: Seq[Expression]): Unit =
    if (children.length != n)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> fn,
          "expectedNum" -> n.toString,
          "actualNum" -> children.length.toString,
          "docroot" -> s"expected signature: $sig"),
        cause = None)
}
