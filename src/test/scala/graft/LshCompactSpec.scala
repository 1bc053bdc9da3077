package graft

/** Contract of `dedup_minhash_index_compact` (r14, the r13 verdict's
  * item 2) — the fourth lifecycle act of the append-maintained text-LSH
  * index. Compaction must be (a) CONTENT-NEUTRAL: the probe's answer
  * over the compacted artifacts is row-identical to the appended ones;
  * (b) a real small-file fix: exactly one file per band_idx directory
  * (and one masks / one vocab file) regardless of how many generations
  * fed it; (c) non-destructive: the generations it read stay on disk,
  * byte-identical, for a separate vacuum step to retire; (d) crash-safe:
  * it commits through the same staged-rename protocol as the append, so
  * a poisoned uncommitted staging dir is discarded, never resumed.
  */
class LshCompactSpec extends SparkSpec {

  private def files(root: String): Map[String, Long] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else Seq(f)
    walk(new java.io.File(root)).filter(_.getName.endsWith(".parquet"))
      .map(f => f.getAbsolutePath -> f.length()).toMap
  }

  test("compaction is content-neutral, one file per band dir, leaves generations intact, crash-safe") {
    // Fresh append lineage on the smoke fixture.
    ResultPins.forget("lsh_batch")
    Tables.rmTree(new java.io.File(ops.Dedup.lshAppendDir(spark, sf)))

    val appended = SparkEntry.queries("dedup_minhash_index_append")(spark, sf)
      .collect().map(_.toSeq)
    val dir = ops.Dedup.lshAppendDir(spark, sf)
    val genFiles = files(dir) // base + gen1, pre-compaction

    val compacted = SparkEntry.queries("dedup_minhash_index_compact")(spark, sf)
      .collect().map(_.toSeq)
    assert(compacted.toSeq == appended.toSeq,
      "compaction changed the probe's answer — it must be content-neutral")

    // One right-sized file per band_idx partition, one masks, one vocab.
    for (b <- 0 until ops.Dedup.LshIndexB) {
      val bandFiles = files(s"$dir/compact/bands/band_idx=$b")
      assert(bandFiles.size == 1,
        s"band_idx=$b has ${bandFiles.size} files after compaction (want 1)")
    }
    assert(files(s"$dir/compact/masks").size == 1, "masks not compacted to one file")
    assert(files(s"$dir/compact/vocab").size == 1, "vocab not compacted to one file")
    // The compacted tree is strictly fewer files than the generations
    // it replaced (the small-file fix is real, not a rename).
    assert(files(s"$dir/compact").size < genFiles.size,
      s"compaction did not reduce the file count (${files(s"$dir/compact").size} vs ${genFiles.size})")

    // Non-destructive: every generation file it read is still there,
    // byte-identical (retirement is the vacuum step's job).
    val after = files(dir)
    genFiles.foreach { case (p, len) =>
      assert(after.get(p).contains(len), s"compaction mutated generation file $p")
    }

    // Crash-safety: plant a poisoned uncommitted staging dir where a
    // killed compaction would leave one; the retry must discard it and
    // restage (no poison rows reachable), leaving no staging orphan.
    import spark.implicits._
    Tables.rmTree(new java.io.File(dir, "compact"))
    val staging = new java.io.File(dir, ".compact.staging")
    Seq(("POISON", -1L)).toDF("word", "bit")
      .write.mode("overwrite").parquet(s"$staging/vocab")
    val recovered = SparkEntry.queries("dedup_minhash_index_compact")(spark, sf)
      .collect().map(_.toSeq)
    assert(recovered.toSeq == appended.toSeq, "post-crash retry changed the answer")
    assert(!staging.exists(), "retry left the crashed staging dir behind")
    assert(spark.read.parquet(s"$dir/compact/vocab")
        .filter(org.apache.spark.sql.functions.col("word") === "POISON").count() == 0,
      "retry resumed the poisoned staging instead of discarding it")

    // FIFTH ACT — VACUUM (r14): with the compaction committed, the
    // generation dirs are redundant and retire; the compacted index
    // keeps serving the same answer from its own files alone.
    val uncompacted = java.nio.file.Files.createTempDirectory("graft_no_compact").toString
    assertThrows[IllegalArgumentException](Tables.vacuumGenerations(uncompacted, ops.Dedup.LshParts))
    Tables.vacuumGenerations(dir, ops.Dedup.LshParts)
    for (p <- Seq("bands", "masks", "vocab", "gen1"))
      assert(!new java.io.File(dir, p).exists(), s"vacuum left generation dir $p")
    val served = SparkEntry.queries("dedup_minhash_index_compact")(spark, sf)
      .collect().map(_.toSeq)
    assert(served.toSeq == appended.toSeq,
      "post-vacuum serve diverged — the compacted index is not self-sufficient")
    Tables.rmTree(new java.io.File(uncompacted))
  }
}
