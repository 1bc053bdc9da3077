package graft

/** Block-manager hygiene of the result pins: the graph/phash ops pin
  * their final result RDD to truncate lineage, but a long-lived session
  * must hold at most ONE pin per (op, corpus), not one per invocation.
  * ResultPins.swap frees the superseded pin; releaseAll() empties the
  * registry. A pin keeps its lineage, so a frame that outlives its pin
  * recomputes instead of failing.
  */
class ResultPinsSpec extends SparkSpec {
  private def pinnedCount: Int = spark.sparkContext.getPersistentRDDs.size

  test("repeat invocations do not grow the pinned-RDD set; releaseAll frees the result pins") {
    // Pin-carrying ops from two files (graph kernels + vector k-means).
    val keys = Seq("graph_2hop_reach", "graph_adamic_adar", "vec_kmeans_fixed")
    keys.foreach(k => SparkEntry.queries(k)(spark, sf).count(): Unit)
    val afterFirst = pinnedCount

    // Without the swap registry this grew by one per invocation
    // (hundreds across a min-of-2 bench sweep); it must stay FLAT.
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

  test("a frame swapped out of its pin still collects its rows") {
    import org.apache.spark.sql.functions.col
    val key = "result_pins_spec_swap@" + sf
    val a = spark.range(0, 40).groupBy((col("id") % 7).as("k")).count()
    val expected = a.collect().map(_.toString).sorted.toSeq
    val before = pinnedCount
    val first = ResultPins.swap(spark, key, a)
    assert(pinnedCount == before + 1, "swap did not pin the first frame")
    assert(ResultPins.rowCount(first) == expected.size, "the pin's row count is not its leaf's")
    val second = ResultPins.swap(spark, key, spark.range(3).toDF())
    assert(pinnedCount == before + 1, "the superseded pin was not freed")
    // The first pin's blocks are gone; its frame recomputes from lineage.
    assert(first.collect().map(_.toString).sorted.toSeq == expected)
    assert(second.count() == 3)
    ResultPins.release(key)
    assert(pinnedCount == before, "release did not free the pin")
  }
}
