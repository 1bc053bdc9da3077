package graft

/** Lifecycle contract of the persisted IVFADC index (r10): a production
  * vector index is built once and served — so the parquet-persisted
  * model must (a) answer the probe path bit-identically to the
  * in-session trained model, and (b) serve a COLD session (no in-memory
  * model) without re-entering the training loops.
  */
class PqIndexSpec extends SparkSpec {

  test("vec_pq_index_reload serves the probe path identically and a cold reload never retrains") {
    // Start from a clean slate: no on-disk artifacts, no memoized model.
    Tables.rmTree(new java.io.File(
      Tables.tmp("graft_pq_index")))
    ops.Vectors.pqModelReset()

    // In-session path trains (memoized); the first reload call builds
    // the artifacts from that same deterministic model and re-reads
    // them — floats/doubles round-trip parquet bit-exactly, so the
    // probe results must match row for row.
    val inMem = SparkEntry.queries("vec_pq_adc_probe")(spark, sf).collect().toSet
    val r1 = SparkEntry.queries("vec_pq_index_reload")(spark, sf).collect().toSet
    assert(r1 == inMem, "reloaded index diverged from the in-memory trained model")

    val dir = ops.Vectors.pqIndexDir(spark, sf)
    for (p <- Seq("coarse", "codebook", "codes"))
      assert(new java.io.File(s"$dir/$p", "_SUCCESS").exists(), s"missing artifact $p")

    // Cold-session simulation: drop the in-memory model. The reload op
    // must answer from the files alone — zero training passes.
    ops.Vectors.pqModelReset()
    val trainsBefore = ops.Vectors.pqTrainCounter.get()
    val r2 = SparkEntry.queries("vec_pq_index_reload")(spark, sf).collect().toSet
    assert(ops.Vectors.pqTrainCounter.get() == trainsBefore,
      "cold reload re-entered the training loop")
    assert(r2 == r1, "cold-reload probe diverged from the warm result")
  }

  test("reload probe scans the codes relation with cell-directory pruning (r12)") {
    // The codes relation is the only corpus-scale artifact; it is
    // persisted partitionBy(ccid), so the nprobe-pruned search must
    // show up as PartitionFilters on the scan — reading ~nprobe/Kc of
    // the index directories, not a full scan followed by a join filter.
    // The keyed op pins its result inside a conf scope (r15), truncating
    // the returned DataFrame's plan — read the executed dataflow's plan
    // through the opt-in capture seam instead.
    // Scoped via finally (r16, the r15 advice): a leaked property would
    // make every later pin in the shared JVM pay the formatted-explain
    // render and accumulate planLog entries for the session.
    System.setProperty("graft.plan.capture", "1")
    try SparkEntry.queries("vec_pq_index_reload")(spark, sf).count() // ensure artifacts exist
    finally System.clearProperty("graft.plan.capture")
    val plan = ResultPins.lastPlan(s"vec_pq_index_reload@$sf")
      .getOrElse(fail("no captured pre-pin plan for vec_pq_index_reload"))
    val pf = plan.linesIterator.filter(_.contains("PartitionFilters")).toSeq
    assert(pf.exists(l => l.contains("ccid") && l.contains("dynamicpruning")),
      s"codes scan carries no ccid partition pruning:\n${pf.mkString("\n")}\n$plan")
  }

  test("vec_pq_probe_filtered: predicate holds on every hit, recall vs exact filtered L2, pruned plan (r13)") {
    val lbl = 3
    val rows = Tables.embeddings(spark, sf)
      .select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    val eligible = rows.filter(_._3 == lbl)
    assert(eligible.length >= 10, "fixture lost its label-3 population — spec vacuous")

    // Exact filtered baseline: per query (vec_id < 20, any label), the
    // 5 nearest ELIGIBLE vectors by exact L2 (self excluded) — what a
    // brute-force scan of the predicate's survivors would return.
    def d2(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
      s
    }
    val exact = rows.filter(_._1 < 20).flatMap { case (q, qv, _) =>
      eligible.filter(_._1 != q)
        .map { case (v, vv, _) => (v, d2(qv, vv)) }
        .sortBy { case (v, d) => (d, v) }.take(5)
        .map { case (v, _) => (q, v) }
    }.toSet

    val got = SparkEntry.queries("vec_pq_probe_filtered")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    // (a) the predicate holds on every returned hit — post-hoc
    // filtering could not have produced an ineligible row, but a
    // broken gate would.
    val eligibleIds = eligible.map(_._1).toSet
    got.foreach { case (q, v) =>
      assert(eligibleIds.contains(v), s"hit ($q, $v) violates the label=$lbl predicate")
    }
    // (b) recall@5 vs the exact filtered ranking: nprobe=4 of Kc=16
    // cells reads a quarter of the index biased toward the query's
    // neighborhood, so recall sits well above 4/16 but below full-ADC.
    val recall = got.count(exact.contains).toDouble / exact.size
    info(s"filtered-probe recall@5 over 20 queries: $recall")
    assert(recall >= 0.2, s"filtered-probe recall $recall below the nprobe statistical floor")
    // (c) the plan stacks the prunings: ccid directory pruning on the
    // codes scan AND the label predicate pushed into the metadata scan.
    val plan = ops.Vectors.pqProbeFiltered(spark, sf, lbl, 4)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(plan.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("ccid") && l.contains("dynamicpruning")),
      s"filtered probe lost the ccid directory pruning:\n$plan")
    assert(plan.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("EqualTo(label,3)")),
      s"label predicate not pushed to the embeddings scan:\n$plan")
  }

  test("vec_pq_index_append: frozen-model growth ≡ the full-index reload answer, base files untouched (r13)") {
    // The full-index reference (builds the reload artifacts if needed).
    val full = SparkEntry.queries("vec_pq_index_reload")(spark, sf).collect().toSet

    // Clean append lineage: generation 0 (model + even codes), snapshot.
    Tables.rmTree(new java.io.File(
      Tables.tmp("graft_pq_index_app_v2")))
    val dir = ops.Vectors.pqAppendBase(spark, sf)
    def files(root: String): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(root)).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getAbsolutePath -> f.length()).toMap
    }
    val before = files(dir)
    val evenCodes = spark.read.parquet(s"$dir/codes").count()

    // The append must not train: the model is the frozen artifact.
    val trainsBefore = ops.Vectors.pqTrainCounter.get()
    val got = SparkEntry.queries("vec_pq_index_append")(spark, sf).collect().toSet
    assert(ops.Vectors.pqTrainCounter.get() == trainsBefore,
      "appending the batch re-entered the training loop — the model is not frozen")

    // append ≡ rebuild: membership converges to all vectors encoded by
    // the same deterministic model, so the probe answers must be
    // row-identical to the reload key's.
    assert(got == full, "append-grown index diverged from the full-index reload answer")

    // O(batch) growth: base model + code files byte-stable, codes grew.
    val after = files(dir)
    before.foreach { case (p, len) =>
      assert(after.get(p).contains(len), s"append rewrote base file $p")
    }
    assert(ops.Vectors.pqAppendedCodes(spark, dir).count() > evenCodes,
      "append added no code rows")
    // Idempotent serve via the committed gen1 directory.
    val again = SparkEntry.queries("vec_pq_index_append")(spark, sf).collect().toSet
    assert(again == got, "re-invocation changed the appended-index answer")

    // CRASH-RETRY NEGATIVE TEST (r14, the r13 verdict's item 1): leave
    // a staged-but-uncommitted POISONED generation (a full copy of the
    // base codes — exactly what a resumed/double append would inject:
    // duplicate (vec_id,ccid,m,cid) rows that double adc_d2 in the
    // probe's sum) and prove the retry discards it and restages
    // exactly-once membership.
    Tables.rmTree(new java.io.File(dir, "gen1"))
    val staging = new java.io.File(dir, ".gen1.staging")
    spark.read.parquet(s"$dir/codes")
      .write.mode("overwrite").partitionBy("ccid").parquet(s"$staging/codes")
    val recovered = SparkEntry.queries("vec_pq_index_append")(spark, sf).collect().toSet
    assert(recovered == got, "retry after the simulated crash changed the probe answer")
    assert(!staging.exists(), "retry left the crashed staging dir behind")
    val codes = ops.Vectors.pqAppendedCodes(spark, dir)
    val dups = codes.groupBy("vec_id", "m").count()
      .filter(org.apache.spark.sql.functions.col("count") > 1).count()
    assert(dups == 0, s"retry double-appended: $dups duplicate (vec_id, m) code rows")
    // And the base generation is still byte-identical.
    val afterCrash = files(dir).filter(!_._1.contains(".gen1.staging"))
    before.foreach { case (p, len) =>
      assert(afterCrash.get(p).contains(len),
        s"the interrupted ingest mutated base file $p")
    }
  }
}
