package graft

/** r8's model-cache fix claimed the memo reset and `releaseCheckpoint` return
  * executor storage; this spec witnesses it under the multi-sfDir session
  * shape the advice called out: train models at one tier after another,
  * resetting between, and assert the block manager holds NO persisted RDDs
  * beyond what other suites had already pinned — i.e. every
  * localCheckpoint the model training created was actually released, not
  * just dropped from the memo map. (Suites share one JVM session and run
  * sequentially under Test/fork, so the pre-existing set is stable.)
  */
class ModelStorageReleaseSpec extends SparkSpec {

  test("forget(pq, ivf) frees all model checkpoints across a 3-sfDir train/reset loop") {
    graft.functions.FloatVecDot.register(spark)
    graft.functions.VecTopK.register(spark)
    ResultPins.forget("pq", "ivf") // start from a clean memo map
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val dirs = Seq(sf, "/root/testdata/sf0.01", sf) // third loop retrains post-reset
    // assume, not a silent per-dir filter: a missing tier must CANCEL the
    // test (visible in the report), not quietly degrade the multi-sfDir
    // shape this spec exists to witness to a single-tier (or empty) loop.
    assume(dirs.forall(d => new java.io.File(d).isDirectory),
      "scale-tier fixtures not present on this host")
    for (dir <- dirs) {
      SparkEntry.queries("vec_pq_adc_topk")(spark, dir).count() // trains + memoizes PQ
      SparkEntry.queries("vec_ann_ivf")(spark, dir).count()     // trains + memoizes IVF
      assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).nonEmpty,
        "expected the trained models to hold checkpointed storage before reset")
      ResultPins.forget("pq", "ivf")
      // The r15-r16(early) vintage of vec_pq_adc_topk registered a
      // RESULT pin (scope reverted r16 — flat A/B); the per-key release
      // stays as a no-op guard so a future re-scoping can't silently
      // turn this spec's leak assertion into a false failure, while a
      // blanket releaseAll would mask any GENUINE leak routed through
      // ResultPins (the r15 advice).
      ResultPins.release(s"vec_pq_adc_topk@$dir")
      val leaked = spark.sparkContext.getPersistentRDDs.keySet.diff(before)
      assert(leaked.isEmpty,
        s"forget(pq, ivf) left ${leaked.size} persisted RDD(s) in the block manager: $leaked")
    }
  }

  test("forget(copurchase_edges) frees exactly the one memoized edge checkpoint per sfDir") {
    ResultPins.forget("copurchase_edges")
    val dirs = Seq(sf, "/root/testdata/sf0.01", sf)
    assume(dirs.forall(d => new java.io.File(d).isDirectory),
      "scale-tier fixtures not present on this host")
    for (dir <- dirs) {
      SparkEntry.queries("graph_copurchase_triangles")(spark, dir).count() // builds + memoizes edges
      SparkEntry.queries("graph_kcore_peel")(spark, dir).count()           // must REUSE, not rebuild
      val built = spark.sparkContext.getPersistentRDDs.keySet
      ResultPins.forget("copurchase_edges")
      val freed = built.diff(spark.sparkContext.getPersistentRDDs.keySet)
      // exactly ONE block freed = one shared checkpoint for both kernels:
      // 0 would mean the reset leaks, 2+ that the second kernel rebuilt
      // its own edge list instead of hitting the memo. (The kernels'
      // pinned RESULT rdds intentionally survive — they back the
      // returned DataFrames — so no assertion on the remainder.)
      assert(freed.size == 1,
        s"expected exactly the memoized edge checkpoint freed at $dir, got ${freed.size}: $freed")
    }
  }

  test("forget(copurchase_symdeg) frees exactly the two degree checkpoints per sfDir") {
    ResultPins.forget("copurchase_symdeg")
    val dirs = Seq(sf, sf.stripSuffix("sf0.001") + "sf0.01", sf)
    assume(dirs.forall(d => new java.io.File(d).isDirectory),
      "scale-tier fixtures not present on this host")
    for (dir <- dirs) {
      SparkEntry.queries("graph_neighbor_jaccard")(spark, dir).count() // builds + memoizes symD, deg
      SparkEntry.queries("graph_adamic_adar")(spark, dir).count()      // must REUSE, not rebuild
      val built = spark.sparkContext.getPersistentRDDs.keySet
      ResultPins.forget("copurchase_symdeg")
      val freed = built.diff(spark.sparkContext.getPersistentRDDs.keySet)
      // exactly TWO blocks freed = the one shared (symD, deg) pair: 0
      // would mean the memo has no release path, 3+ that a second wedge
      // kernel rebuilt its own pair or that the edge memo went with it.
      assert(freed.size == 2,
        s"expected exactly the memoized symD and deg checkpoints freed at $dir, got ${freed.size}: $freed")
    }
  }
}
