package graft

/** Contract of `dedup_semantic_clusters_append` (r14, the r13 verdict's
  * item 3 — incremental cluster maintenance): merging the ingest batch's
  * verified edges into the persisted assignment must (a) equal the full
  * recompute row-for-row (the same contract the DuckDB oracle enforces
  * at the driver's gate), and (b) do O(batch-adjacent) WORK — every
  * component untouched by a new edge passes through verbatim from the
  * persisted parquet, and only odd nodes plus affected-component members
  * enter the CC merge. Witnessed by row counts (the verdict's "job/row
  * counts, not wall time").
  */
class SemCcAppendSpec extends SparkSpec {

  test("incremental merge ≡ full recompute; untouched components bypass the CC merge") {
    // Fresh lineage: force the generation-0 build.
    Tables.rmTree(new java.io.File(ops.Vectors.semCcDir(spark, sf)))

    val full = SparkEntry.queries("dedup_semantic_clusters")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val inc = SparkEntry.queries("dedup_semantic_clusters_append")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(inc == full,
      "incremental component merge diverged from the full recompute")

    // Bounded-work witness: the corpus partitions exactly into
    // pass-through rows (untouched components, read straight from the
    // persisted assignment) and CC-merge participants (odd nodes +
    // affected-component members) — and the pass-through set is real.
    val (untouched, subNodes, mergeEdges, _) =
      ops.Vectors.semClustersAppendParts(spark, sf)
    val total = Tables.embeddings(spark, sf).count()
    val nUntouched = untouched.count()
    val nSub = subNodes.count()
    val nEdges = mergeEdges.count()
    info(s"corpus $total: $nUntouched pass-through rows, $nSub CC-merge nodes, $nEdges merge edges")
    assert(nUntouched + nSub == total,
      "pass-through + merge-participant rows do not partition the corpus")
    assert(nUntouched > 0,
      "no component bypassed the merge — the incremental path degenerated to a full recompute")
    assert(nSub < total,
      "every node entered the CC merge — work is not O(batch-adjacent)")

    // Warm serve: the persisted generation-0 assignment answers without
    // a rebuild (its parts are committed), and the answer is stable.
    val again = SparkEntry.queries("dedup_semantic_clusters_append")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(again == inc, "re-invocation changed the merged assignment")
  }
}
