package graft

/** Lifecycle contract of the persisted text-LSH index (r11, the r10
  * verdict's item 4 — the text dual of [[PqIndexSpec]]): the
  * fingerprint-keyed (bands, masks, vocab) parquet artifacts must
  * (a) serve the incremental probe bit-identically to a fresh
  * recomputation of the index, and (b) serve a cold session (files
  * already on disk) with ZERO signature passes over the base corpus.
  */
class LshIndexSpec extends SparkSpec {

  test("dedup_minhash_index_reload: reload ≡ recompute, and a warm index never rebuilds") {
    // Clean slate: no on-disk artifacts.
    Tables.rmTree(new java.io.File(
      Tables.tmp("graft_lsh_index")))

    // Reference: the probe against FRESH index relations (no persistence
    // involved anywhere). md5 strings and longs round-trip parquet
    // exactly, so the persisted path must reproduce this row for row.
    val fresh = ops.Dedup.lshProbe(spark, sf, ops.Dedup.lshIndexFresh(spark, sf))
      .collect().map(_.toSeq).toSet

    val buildsBefore = ops.Dedup.lshBuildCounter.get()
    val r1 = SparkEntry.queries("dedup_minhash_index_reload")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(ops.Dedup.lshBuildCounter.get() == buildsBefore + 1,
      "first call should have built the index exactly once")
    assert(r1 == fresh, "persisted-index probe diverged from the fresh recomputation")

    val dir = ops.Dedup.lshIndexDir(spark, sf)
    for (p <- Seq("bands", "masks", "vocab"))
      assert(new java.io.File(s"$dir/$p", "_SUCCESS").exists(), s"missing artifact $p")

    // Cold-serve witness: with artifacts on disk, the op must answer
    // from the files alone — the build counter (the only path that
    // signs the base corpus) must not move.
    val r2 = SparkEntry.queries("dedup_minhash_index_reload")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(ops.Dedup.lshBuildCounter.get() == buildsBefore + 1,
      "warm call re-built the index — the serve path is recomputing the base corpus")
    assert(r2 == r1, "warm-serve probe diverged from the first result")
  }

  test("persisted-index probe scans the bands root exactly once (fused compound-key join, r15)") {
    // r12 pinned per-band PartitionFilters because the probe ran one
    // join PER band — which also meant 4 scans of the index root and 4
    // broadcast builds per probe. r15 fuses the candidate stage into a
    // single equi-join on (band_idx, bkey): identical candidate
    // multiset (band_idx equality IS the banding), ONE scan of the
    // bands root. The on-disk band_idx partitioning is unchanged
    // (compaction/band-rebuild still address single directories).
    // The keyed op pins its result (plan truncated), so assert on the
    // probe dataflow itself under the same artifacts.
    SparkEntry.queries("dedup_minhash_index_reload")(spark, sf).count() // ensure artifacts
    val probe = ops.Dedup.lshProbe(spark, sf, ops.Dedup.lshPersistedIndex(spark, sf))
    val plan = probe.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    val bandScans = plan.linesIterator.count(l =>
      l.contains("Location:") && l.contains("/bands"))
    assert(bandScans == 1,
      s"expected exactly 1 scan of the persisted bands root, got $bandScans:\n" +
        plan.linesIterator.filter(_.contains("/bands")).mkString("\n"))
  }

  test("a regenerated base corpus invalidates the persisted LSH index (fingerprint key)") {
    // The cachedDir contract: the directory NAME carries the source
    // fingerprint, so a different fingerprint can never read these files.
    val dir = ops.Dedup.lshIndexDir(spark, sf)
    assert(dir.contains(Tables.fingerprint(sf, "documents")),
      "index dir is not fingerprint-keyed — a regenerated corpus would serve stale bands")
  }

  test("append-maintained index: O(batch) ingest, base files untouched, OOV words get bits (r13)") {
    import spark.implicits._
    // Crafted corpus: evens are the base, odds the ingest batch.
    // doc 1 duplicates base doc 0; docs 3 and 5 duplicate EACH OTHER
    // through words absent from the whole base vocabulary — the pair
    // only verifies if the append extends the word→bit dictionary
    // (base-era masks would give them intersection 0).
    val dir = java.nio.file.Files.createTempDirectory("graft_lsh_app_fix").toString
    Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "iota kappa lambda mu nu xi omicron pi"),
      (4L, "alpha beta gamma delta epsilon zeta eta iota"),
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      // 70 ingest-only words: extended vocab = 16 + 70 = 86 bits, so
      // batch masks are TWO longs wide against one-long base masks —
      // the probe's coalesce'd popcount handles the generation gap.
      (3L, (1 to 70).map("q" + _).mkString(" ")),
      (5L, (1 to 70).map("q" + _).mkString(" ")),
    ).toDF("doc_id", "text")
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("source", org.apache.spark.sql.functions.lit("fix"))
      .withColumn("n_chars", org.apache.spark.sql.functions.length(
        org.apache.spark.sql.functions.col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")

    def files(root: String): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(root)).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getAbsolutePath -> f.length()).toMap
    }

    // Base generation, then snapshot its data files.
    val idxDir = ops.Dedup.lshAppendBase(spark, dir)
    val before = files(idxDir)
    assert(before.nonEmpty, "base build produced no data files")

    val got = SparkEntry.queries("dedup_minhash_index_append")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSet == Set((1L, 0L, 1.0), (3L, 5L, 1.0), (5L, 3L, 1.0)),
      s"appended-index probe returned ${got.mkString(",")} — expected the base dup " +
        "(1,0) and the OOV-word ingest pair (3,5)/(5,3) at jaccard 1.0")

    // O(batch) maintenance: every base file survives IDENTICALLY (the
    // append only added files) and each band directory gained rows.
    val after = files(idxDir)
    before.foreach { case (p, len) =>
      assert(after.get(p).contains(len), s"append rewrote base file $p")
    }
    assert(after.size > before.size, "append added no data files")
    // Dictionary extension is append-only: base words keep their bits.
    // (r14: the ingest generation lives in its own committed gen1 dir;
    // the serve path unions the two generation roots.)
    val vocab = ops.Dedup.lshAppendedPart(spark, idxDir, "vocab").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(vocab("q1") >= 16, "ingest-only word numbered inside the base bit range")
    assert(vocab.size == 86, s"expected 16 base + 70 ingest words, got ${vocab.size}")
    assert(vocab.values.toSeq.distinct.size == vocab.size, "bit collision after append")

    // Idempotent serve: a second invocation answers from the marker,
    // with the same result and no vocabulary growth.
    val again = SparkEntry.queries("dedup_minhash_index_append")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(again.toSet == got.toSet, "re-invocation changed the appended-index answer")
    assert(ops.Dedup.lshAppendedPart(spark, idxDir, "vocab").count() == vocab.size.toLong,
      "re-invocation re-ingested the batch (vocab grew)")

    // CRASH-RETRY NEGATIVE TEST (r14, the r13 verdict's item 1): kill
    // the ingest "between the write and the commit" — i.e. leave a
    // fully-staged-but-uncommitted (and here: poisoned) staging dir —
    // and prove the retry does NOT double-append. Under the r13
    // mode("append")+marker protocol this exact state re-appended the
    // batch into the live dirs; under the staged-rename protocol the
    // retry must (a) leave every base file untouched, (b) discard the
    // orphaned staging wholesale, (c) restage exactly once.
    Tables.rmTree(new java.io.File(idxDir, "gen1"))
    import spark.implicits._
    val staging = new java.io.File(idxDir, ".gen1.staging")
    Seq(("POISON", 16L), ("POISON2", 16L)) // duplicate bit = the corruption double-append causes
      .toDF("word", "bit").write.mode("overwrite").parquet(s"$staging/vocab")
    val afterCrash = files(idxDir).filter(!_._1.contains(".gen1.staging"))
    before.foreach { case (p, len) =>
      assert(afterCrash.get(p).contains(len),
        s"the interrupted ingest mutated base file $p — the live tree must never be written mid-flight")
    }
    val recovered = SparkEntry.queries("dedup_minhash_index_append")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(recovered.toSet == got.toSet, "retry after the simulated crash changed the answer")
    assert(!staging.exists(), "retry left the crashed staging dir behind")
    val vocab2 = ops.Dedup.lshAppendedPart(spark, idxDir, "vocab").collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(!vocab2.exists(_._1.startsWith("POISON")),
      "retry resumed the crashed staging instead of discarding it")
    assert(vocab2.length == 86 && vocab2.map(_._2).distinct.length == 86,
      s"retry double-appended: ${vocab2.length} vocab rows / ${vocab2.map(_._2).distinct.length} distinct bits (want 86/86)")
    Tables.rmTree(new java.io.File(dir))
  }
}
