package graft

/** Block-manager hygiene of the result pins (r14, the r13 verdict's
  * item 5): the graph/phash ops pin their final result RDD to truncate
  * lineage — but a long-lived session must hold at most ONE pin per
  * (op, corpus), not one per invocation. ResultPins.swap frees the
  * superseded pin; releaseAll() empties the registry.
  */
class ResultPinsSpec extends SparkSpec {

  test("repeat invocations do not grow the pinned-RDD set; releaseAll frees the result pins") {
    def pinnedCount: Int = spark.sparkContext.getPersistentRDDs.size

    // Pin-carrying ops from two files (graph kernels + vector k-means).
    val keys = Seq("graph_2hop_reach", "graph_adamic_adar", "vec_kmeans_fixed")
    keys.foreach(k => SparkEntry.queries(k)(spark, sf).count(): Unit)
    val afterFirst = pinnedCount

    // The r13 behavior grew this by one per invocation (hundreds across
    // a min-of-2 bench sweep); the swap registry must keep it FLAT.
    for (_ <- 1 to 3)
      keys.foreach(k => SparkEntry.queries(k)(spark, sf).count(): Unit)
    assert(pinnedCount == afterFirst,
      s"repeat invocations grew the pinned-RDD set ($afterFirst -> $pinnedCount)")

    // Teardown hygiene: releasing the registry frees the result pins
    // (other caches — e.g. the fingerprint-keyed edge checkpoints — are
    // separately managed and may remain).
    ResultPins.releaseAll()
    assert(pinnedCount < afterFirst,
      "releaseAll() freed no result pins")
  }
}
