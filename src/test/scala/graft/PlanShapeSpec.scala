package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Plan-shape assertions for the r9-verdict weak-plan fixes: each of
  * these operators was CORRECT but carried a plan that would not survive
  * a 100× scale-up (double fact scan, unbounded broadcast, fact-sized
  * window sort). The oracle gate proves the values; these tests pin the
  * SHAPE so a refactor can't silently regress the scale property.
  */
class PlanShapeSpec extends SparkSpec {

  private def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // materialize so AQE settles on the final plan
    val executed = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    executed.toString
  }

  test("sql_tpch_q11 executes a single lineitem scan (total derived from the per-partkey agg)") {
    val df = SparkEntry.queries("sql_tpch_q11")(spark, sf)
    val plan = finalPlan(df)
    // The grand-total branch re-references the per-partkey aggregate's
    // subtree; both sides hash-partition on l_partkey over an identical
    // child, so exchange/stage reuse must serve the second consumer from
    // the first shuffle's output — never a second fact scan.
    val lineitemScans = plan.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("lineitem"))
    assert(lineitemScans == 1,
      s"expected exactly 1 lineitem scan (got $lineitemScans):\n$plan")
    assert(plan.contains("ReusedExchange") || plan.contains("reuses"),
      s"expected the total branch to reuse the per-partkey exchange:\n$plan")
  }

  test("text_keywords_tfidf plans no static broadcast of the vocabulary relation") {
    // The df (per-word document frequency) side is unbounded at corpus
    // scale: it must never carry a FORCED broadcast hint — the hint
    // overrides the size statistics that would (correctly) pick a
    // shuffle join once the vocabulary outgrows the threshold. The cost
    // model choosing broadcast at spec scale from measured statistics
    // is fine — that decision flips on its own at scale. So the
    // assertion is on the analyzed LOGICAL plan: the only ResolvedHint
    // allowed is the 1-row corpus-N relation (output n_docs), never the
    // vocabulary relation (output df).
    for (key <- Seq("text_keywords_tfidf", "text_hashed_tfidf")) {
      val analyzed = SparkEntry.queries(key)(spark, sf).queryExecution.analyzed
      val hints = analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
      }
      assert(hints.forall(h => !h.child.output.exists(_.name == "df")),
        s"$key carries a broadcast hint on the vocabulary relation:\n$analyzed")
    }
  }

  test("text_bigram_novelty plans no static broadcast of the corpus bigram model") {
    // The bigram model is the corpus's distinct-bigram table — strictly
    // larger than the unigram vocabulary the tfidf ban covers, so a
    // forced broadcast is a guaranteed OOM at web-corpus scale (r10
    // verdict, What's wrong #1). No ResolvedHint is allowed anywhere in
    // this plan.
    val analyzed = SparkEntry.queries("text_bigram_novelty")(spark, sf)
      .queryExecution.analyzed
    val hints = analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.isEmpty,
      s"text_bigram_novelty carries a broadcast hint:\n$analyzed")
  }

  test("sim_jaccard_pairs / sim_containment_pairs plan no static broadcast hints at all") {
    // The tokenMasks dictionary, the ranked rarest-first vocab, AND the
    // prefix-probe relation are all corpus-growing — the probe is
    // O(docs·(1−t)·n̄), ~10% of the token relation, which is LINEAR in
    // the corpus, not bounded (r11 verdict, What's wrong #1). A forced
    // broadcast of any of them OOMs at 100 TB. No ResolvedHint is
    // allowed anywhere in either plan; the cost model elects broadcast
    // from measured statistics while relations are small, and that
    // decision flips on its own at scale.
    for (key <- Seq("sim_jaccard_pairs", "sim_containment_pairs")) {
      val analyzed = SparkEntry.queries(key)(spark, sf).queryExecution.analyzed
      val hints = analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
      }
      assert(hints.isEmpty,
        s"$key carries a broadcast hint:\n$analyzed")
    }
  }

  test("sql_named_parameters binds as pushdown-able literals (both filters reach the scan)") {
    // The surface's value claim: a :name parameter is a typed literal in
    // the analyzed plan, so it constant-folds and pushes down exactly
    // like hand-written SQL — no dynamic-filter penalty for templating.
    // explainString(FormattedMode) — the node toString truncates the
    // PushedFilters list at 100 chars, hiding the second filter.
    val plan = SparkEntry.queries("sql_named_parameters")(spark, sf)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("GreaterThanOrEqual(p_size,25)"),
      s"p_size parameter filter not pushed to the scan:\n$plan")
    assert(plan.contains("LessThan(p_retailprice,1500.0)"),
      s"p_retailprice parameter filter not pushed to the scan:\n$plan")
  }

  test("dedup_minhash_index_reload serves from the persisted index with no forced broadcast") {
    // The keyed op pins its result inside a conf scope (r15), which
    // truncates the returned DataFrame's plan at the pinned RDD — so
    // introspect the probe dataflow itself, under the same artifacts.
    SparkEntry.queries("dedup_minhash_index_reload")(spark, sf).count() // ensure artifacts
    val q = ops.Dedup.lshProbe(spark, sf, ops.Dedup.lshPersistedIndex(spark, sf))
    val analyzed = q.queryExecution.analyzed
    val hints = analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.isEmpty,
      s"index probe carries a static broadcast hint:\n$analyzed")
    // The serve path must READ the fingerprint-keyed artifacts, not
    // recompute the base corpus: the executed plan scans graft_lsh_index
    // parquet for bands, masks, and the dictionary.
    val plan = finalPlan(q)
    assert(plan.contains("graft_lsh_index"),
      s"probe plan does not scan the persisted index:\n$plan")
  }

  test("agg_weighted_median sorts only the median bucket, not the price-NDV relation") {
    val df = SparkEntry.queries("agg_weighted_median")(spark, sf)
    val plan = finalPlan(df)
    // Every Window node's input must be either the bucket-grid relation
    // (grouped by bkt — domain-bounded) or the single-bucket join output
    // — never the raw per-price aggregate. Structural witness: the plan
    // joins on bkt before the per-price running window, i.e. a join node
    // references the bkt key.
    assert(plan.contains("bkt"),
      s"expected the bucket key in the executed plan:\n$plan")
    val joinsOnBkt = plan.linesIterator.exists(l =>
      (l.contains("Join") || l.contains("join")) && l.contains("bkt"))
    assert(joinsOnBkt,
      s"expected the price window input to be pruned by a bucket join:\n$plan")
  }

  /** Run `f` in a session built with GraftExtensions on the shared
    * SparkContext, the deployment path every main uses.
    */
  private def withGraftSession(f: org.apache.spark.sql.SparkSession => Unit): Unit = {
    val orig = spark // force-create the shared session first
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    try {
      val ext = org.apache.spark.sql.SparkSession.builder()
        .master("local[4]")
        .withExtensions(new GraftExtensions)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      ext.conf.set("spark.sql.shuffle.partitions", "4")
      ext.conf.set("spark.sql.session.timeZone", "UTC")
      f(ext)
    } finally {
      org.apache.spark.sql.SparkSession.setActiveSession(orig)
      org.apache.spark.sql.SparkSession.setDefaultSession(orig)
    }
  }

  private def rangeSorts(plan: String): Boolean = plan.contains("rangepartitioning")

  test("a small final orderBy is gathered onto one partition, with no range exchange") {
    withGraftSession { ext =>
      for (key <- Seq("agg_group_summary", "math_try_safe")) {
        val df = SparkEntry.queries(key)(ext, sf)
        val plan = finalPlan(df)
        assert(!rangeSorts(plan), s"$key still range-partitions its sort:\n$plan")
        assert(plan.contains("Coalesce 1"), s"$key sorts without the gather:\n$plan")
        assert(df.collect().toSeq == SparkEntry.queries(key)(spark, sf).collect().toSeq,
          s"$key: the gathered sort changed the result")
      }
      // -1 turns the gather off, as it does broadcast joins.
      ext.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val plan = finalPlan(SparkEntry.queries("agg_group_summary")(ext, sf))
        assert(rangeSorts(plan), s"threshold -1 still gathered the sort:\n$plan")
      } finally ext.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("a large or self-repartitioned sort input keeps its range exchange") {
    withGraftSession { ext =>
      import org.apache.spark.sql.functions.col
      // 2^40 rows: the 100 TB regime. Planned only, never run.
      val huge = ext.range(0, 1L << 40).orderBy(col("id").desc).queryExecution.executedPlan
      assert(rangeSorts(huge.toString), s"a 2^40-row sort lost its range exchange:\n$huge")
      // A plan that sets its own parallelism keeps it.
      val spread = finalPlan(ext.range(100).toDF().repartition(8).orderBy(col("id").desc))
      assert(rangeSorts(spread), s"a repartitioned input was gathered:\n$spread")
    }
  }

  test("the gather leaves streaming plans alone") {
    import org.apache.spark.sql.catalyst.expressions.{Ascending, AttributeReference, SortOrder}
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Repartition, Sort}
    val x = AttributeReference("x", org.apache.spark.sql.types.LongType)()
    def sortOver(streaming: Boolean) =
      Sort(Seq(SortOrder(x, Ascending)), global = true,
        LocalRelation(Seq(x), Nil, isStreaming = streaming))
    def gathered(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      p.exists { case Repartition(1, false, _) => true; case _ => false }
    assert(gathered(GatherSmallSort(sortOver(streaming = false))))
    assert(!gathered(GatherSmallSort(sortOver(streaming = true))))
  }
}
