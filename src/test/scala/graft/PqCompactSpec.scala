package graft

/** Contract of `vec_pq_index_compact` (r14, the r13 verdict's item 2) —
  * compaction of the append-grown IVFADC codes: content-neutral (probe ≡
  * the reload key's full-index answer, the same contract the append key
  * carries), one right-sized file per ccid cell directory, generations
  * left intact for vacuum, and the single-root layout restores plain
  * dynamic partition pruning on the compacted codes scan.
  */
class PqCompactSpec extends SparkSpec {

  private def files(root: String): Map[String, Long] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else Seq(f)
    walk(new java.io.File(root)).filter(_.getName.endsWith(".parquet"))
      .map(f => f.getAbsolutePath -> f.length()).toMap
  }

  test("pq compaction: probe ≡ reload, one file per cell, generations intact, pruning restored") {
    val full = SparkEntry.queries("vec_pq_index_reload")(spark, sf).collect().toSet

    // Fresh append lineage, then compact it.
    Tables.rmTree(new java.io.File(ops.Vectors.pqAppendDir(spark, sf)))
    SparkEntry.queries("vec_pq_index_append")(spark, sf).count(): Unit
    val dir = ops.Vectors.pqAppendDir(spark, sf)
    val genFiles = files(dir)
    val genCodes = ops.Vectors.pqAppendedCodes(spark, dir)
      .groupBy("vec_id", "ccid", "m", "cid").count().collect().toSet

    val got = SparkEntry.queries("vec_pq_index_compact")(spark, sf).collect().toSet
    assert(got == full, "compacted-index probe diverged from the full-index reload answer")

    // Content-neutral at the CODES level too: the compacted relation is
    // the exact multiset of the generations it replaced.
    val compactCodes = spark.read.parquet(s"$dir/compact/codes")
      .groupBy("vec_id", "ccid", "m", "cid").count().collect().toSet
    assert(compactCodes == genCodes, "compaction changed the codes multiset")

    // One file per populated cell directory.
    val cellDirs = Option(new java.io.File(s"$dir/compact/codes").listFiles())
      .getOrElse(Array.empty).filter(f => f.isDirectory && f.getName.startsWith("ccid="))
    assert(cellDirs.nonEmpty, "compacted codes have no cell directories")
    cellDirs.foreach { d =>
      val n = files(d.getAbsolutePath).size
      assert(n == 1, s"${d.getName} has $n files after compaction (want 1)")
    }
    assert(files(s"$dir/compact").size < files(s"$dir/codes").size + files(s"$dir/gen1").size,
      "compaction did not reduce the file count")

    // Generations untouched (vacuum is a separate act).
    val after = files(dir)
    genFiles.foreach { case (p, len) =>
      assert(after.get(p).contains(len), s"compaction mutated generation file $p")
    }

    // Single-root layout restores plain dynamic directory pruning on
    // the nprobe-pruned codes scan (the reload key's r12 contract).
    // Pre-pin plan via the capture seam (the keyed op pins its result
    // inside a conf scope since r15, truncating the returned plan).
    // Scoped via finally (r16, the r15 advice): don't leak the capture
    // property into every later pin of the shared JVM.
    System.setProperty("graft.plan.capture", "1")
    try SparkEntry.queries("vec_pq_index_compact")(spark, sf).count()
    finally System.clearProperty("graft.plan.capture")
    val plan = ResultPins.lastPlan(s"vec_pq_index_compact@$sf")
      .getOrElse(fail("no captured pre-pin plan for vec_pq_index_compact"))
    assert(plan.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("ccid") && l.contains("dynamicpruning")),
      s"compacted codes scan lost ccid directory pruning:\n$plan")

    // FIFTH ACT — VACUUM (r14): generation code dirs retire once the
    // compaction is committed; the model relations + compacted codes
    // keep serving the identical probe.
    val uncompacted = java.nio.file.Files.createTempDirectory("graft_no_compact_pq").toString
    assertThrows[IllegalArgumentException](Tables.vacuumGenerations(uncompacted, Seq("codes")))
    Tables.vacuumGenerations(dir, Seq("codes"))
    for (p <- Seq("codes", "gen1"))
      assert(!new java.io.File(dir, p).exists(), s"vacuum left generation dir $p")
    val served = SparkEntry.queries("vec_pq_index_compact")(spark, sf).collect().toSet
    assert(served == full, "post-vacuum serve diverged from the reload answer")
    Tables.rmTree(new java.io.File(uncompacted))
  }
}
