package graft

import org.apache.spark.sql.functions._

/** Properties of the vector ops the oracle can't check (vec_ann_ivf has
  * no SQL equivalent by design — it's the approximate scale path).
  */
class VectorSpec extends SparkSpec {

  test("vec_ann_ivf returns at most 5 ranked neighbors per query, sims in [-1,1]") {
    val ann = SparkEntry.queries("vec_ann_ivf")(spark, sf).cache()
    val badGroups = ann.groupBy("a_vec_id").agg(count(lit(1)).as("n"), max("rk").as("mx"))
      .filter(col("n") > 5 || col("mx") > 5).count()
    assert(badGroups == 0)
    val badSims = ann.filter(col("cos_sim") < -1.0 || col("cos_sim") > 1.0).count()
    assert(badSims == 0)
    assert(ann.select("a_vec_id").distinct().count() == Tables.embeddings(spark, sf).count())
  }

  test("vec_ann_ivf recall vs exact is at the nprobe/cells statistical floor") {
    // The quantizer is TRAINED (r4: per-label seeds + 2 Lloyd
    // iterations → Voronoi cells), but THIS corpus is isotropic
    // 64-d gaussian noise: in high dimensions a random point's nearest
    // neighbors are distributed almost independently of any K-cell
    // Voronoi partition, so top-5 recall stays at the ≈ nprobe/K
    // statistical floor (measured 0.288 / 0.305 at sf0.001 / sf0.01 —
    // same as the untrained label cells, which is the expected
    // null result on clusterless data, not a training failure; the
    // Lloyd loop itself is asserted by centroids moving, below). The
    // assertion pins that floor: recall collapsing below it would mean
    // the probe ranking or per-cell search broke. On a real clustered
    // corpus recall rises with cluster quality — dataflow identical.
    val ann = SparkEntry.queries("vec_ann_ivf")(spark, sf)
      .select(col("a_vec_id"), col("b_vec_id")).withColumn("hit", lit(1))
    val exact = SparkEntry.queries("vec_cosine_topk")(spark, sf)
      .select(col("a_vec_id"), col("b_vec_id"))
    val j = exact.join(ann, Seq("a_vec_id", "b_vec_id"), "left")
    val recall = j.agg((sum(coalesce(col("hit"), lit(0))) / count(lit(1))).as("r"))
      .first().getDouble(0)
    assert(recall >= 0.2 && recall <= 0.6, s"recall $recall outside the expected band for nprobe=2/5")
  }

  test("IVF recall is monotone in nprobe (1 ≤ 2 ≤ 4) and strictly grows across the sweep") {
    // Candidate sets are supersets as nprobe grows and every exact-top
    // pair in the candidate set survives the per-query top-5 (global
    // ordering), so recall vs the exact top-k is monotone BY
    // CONSTRUCTION — this sweep is the executed witness of the
    // recall/probe tradeoff the one-point band can't show.
    val exact = SparkEntry.queries("vec_cosine_topk")(spark, sf)
      .select(col("a_vec_id"), col("b_vec_id")).cache()
    val nExact = exact.count().toDouble
    val recalls = Seq(1, 2, 4).map { np =>
      val ann = ops.Vectors.annIvfSearch(spark, sf, np)
        .select(col("a_vec_id"), col("b_vec_id"))
      np -> exact.join(ann, Seq("a_vec_id", "b_vec_id"), "left_semi").count() / nExact
    }.toMap
    assert(recalls(1) <= recalls(2) + 1e-9 && recalls(2) <= recalls(4) + 1e-9,
      s"recall not monotone in nprobe: $recalls")
    assert(recalls(4) > recalls(1),
      s"widening nprobe 1→4 did not improve recall: $recalls")
    exact.unpersist()
  }

  test("IVF tolerates a centroid that loses every member (empty cell)") {
    import spark.implicits._
    graft.functions.FloatVecDot.register(spark)
    // Two tight clusters plus a seed centroid at (−1,−1) that attracts
    // nothing: the Lloyd step must DROP the empty cell (no NaN centroid
    // row emitted) and re-assignment under the shrunk quantizer must
    // still cover every vector.
    val v = Seq(
      (1L, Array(1.0f, 0.1f)), (2L, Array(1.0f, 0.2f)), (3L, Array(0.9f, 0.0f)),
      (4L, Array(0.1f, 1.0f)), (5L, Array(0.0f, 0.9f)),
    ).toDF("vec_id", "embedding")
      .withColumn("nrm", sqrt(expr("vec_dot(embedding, embedding)")))
    val seeds = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)), (2L, Array(-1.0f, -1.0f)),
    ).toDF("cid", "cvec")
      .withColumn("cnrm", sqrt(expr("vec_dot(cvec, cvec)")))
    val trained = ops.Vectors.meanCentroids(
      ops.Vectors.nearestCells(v, seeds, 1).select(col("cid"), col("embedding")))
    assert(trained.count() == 2, "empty cell should vanish, not linger as NaN")
    val re = ops.Vectors.nearestCells(v, trained, 1)
    assert(re.count() == 5 && re.filter(col("cid").isNull).count() == 0,
      "re-assignment under the shrunk quantizer lost vectors")
  }

  test("Lloyd training moves the centroids off the label seeds") {
    graft.functions.FloatVecDot.register(spark)
    val v = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"),
      sqrt(expr("vec_dot(embedding, embedding)")).as("nrm"))
    // The seed IS meanCentroids applied to the label assignment, so one
    // assign+average round on top of it is exactly the op's first Lloyd
    // iteration.
    val seed = ops.Vectors.meanCentroids(
      Tables.embeddings(spark, sf).select(col("label").as("cid"), col("embedding")))
    val it1 = ops.Vectors.meanCentroids(
      ops.Vectors.nearestCells(v, seed, 1).select(col("cid"), col("embedding")))
    val moved = seed.select(col("cid"), col("cvec").as("s"))
      .join(it1.select(col("cid"), col("cvec").as("t")), "cid")
      .filter(col("s") =!= col("t")).count()
    assert(moved > 0, "first Lloyd iteration left every centroid exactly on its seed")
  }

  test("vec_ann_ivf top-1 never beats the exact top-1 (subset property)") {
    val ann = SparkEntry.queries("vec_ann_ivf")(spark, sf)
      .filter(col("rk") === 1).select(col("a_vec_id"), col("cos_sim").as("ann_sim"))
    val exact = SparkEntry.queries("vec_cosine_topk")(spark, sf)
      .filter(col("rk") === 1).select(col("a_vec_id"), col("cos_sim").as("exact_sim"))
    val violations = ann.join(exact, "a_vec_id")
      .filter(col("ann_sim") > col("exact_sim") + 1e-9).count()
    assert(violations == 0)
  }

  test("vec_topk partial-aggregates BEFORE the exchange (shuffle carries ≤k per group per partition)") {
    val plan = SparkEntry.queries("vec_cosine_topk")(spark, sf)
      .queryExecution.executedPlan.toString
    // ObjectHashAggregate(partial vec_topk) must appear BELOW an Exchange
    // with the final vec_topk above it — the bounded-heap two-phase shape
    // that keeps the O(n²) pair rows out of the shuffle. A plan that only
    // aggregates after the exchange would ship every pair row.
    val lines = plan.split("\n")
    val partialIdx = lines.indexWhere(l => l.contains("vec_topk") && l.contains("ObjectHashAggregate") && l.contains("partial"))
    val finalIdx = lines.indexWhere(l => l.contains("vec_topk") && l.contains("ObjectHashAggregate") && !l.contains("partial"))
    val exchangeIdx = lines.indexWhere(_.contains("Exchange hashpartitioning(a_vec_id"))
    assert(partialIdx >= 0, s"no partial vec_topk aggregate in plan:\n$plan")
    assert(finalIdx >= 0 && exchangeIdx >= 0, s"missing final agg or exchange:\n$plan")
    // Plans print top-down: final agg above the exchange, partial below it.
    assert(finalIdx < exchangeIdx && exchangeIdx < partialIdx,
      s"vec_topk is not two-phase around the exchange (final=$finalIdx exchange=$exchangeIdx partial=$partialIdx):\n$plan")
  }

  test("vec_topk equals the window row_number formulation on raw sims") {
    graft.functions.FloatVecDot.register(spark)
    graft.functions.VecTopK.register(spark)
    import org.apache.spark.sql.expressions.Window
    val v = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"),
      sqrt(expr("vec_dot(embedding, embedding)")).as("nrm"))
    val a = v.select(col("vec_id").as("a_vec_id"), col("embedding").as("a_emb"), col("nrm").as("a_nrm"))
    val b = v.select(col("vec_id").as("b_vec_id"), col("embedding").as("b_emb"), col("nrm").as("b_nrm"))
    val pairs = a.join(broadcast(b), col("a_vec_id") =!= col("b_vec_id"))
      .withColumn("sim", expr("vec_dot(a_emb, b_emb)") / (col("a_nrm") * col("b_nrm")))
      .select(col("a_vec_id"), col("b_vec_id"), col("sim"))
    val viaAgg = pairs.groupBy(col("a_vec_id"))
      .agg(expr("vec_topk(b_vec_id, sim, 5)").as("top"))
      .select(col("a_vec_id"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("a_vec_id"), (col("pos") + 1).as("rk"), col("e.id").as("b_vec_id"), col("e.sim").as("sim"))
    val w = Window.partitionBy(col("a_vec_id")).orderBy(col("sim").desc, col("b_vec_id").asc)
    val viaWindow = pairs.withColumn("rk", row_number().over(w).cast("long")).filter(col("rk") <= 5)
      .select(col("a_vec_id"), col("rk"), col("b_vec_id"), col("sim"))
    assert(viaAgg.exceptAll(viaWindow).isEmpty && viaWindow.exceptAll(viaAgg).isEmpty,
      "bounded-heap top-k diverges from the window formulation")
  }

  test("FloatVecDot matches the interpreted HOF computation exactly") {
    graft.functions.FloatVecDot.register(spark)
    val diff = Tables.embeddings(spark, sf)
      .withColumn("custom", expr("vec_dot(embedding, embedding)"))
      .withColumn("hof", expr(
        "aggregate(zip_with(embedding, embedding, (x, y) -> cast(x as double) * cast(y as double)), 0D, (acc, v) -> acc + v)"))
      .filter(col("custom") =!= col("hof"))
      .count()
    assert(diff == 0, "codegen'd dot product diverges from sequential HOF fold")
  }

  test("IVF training is order-free: a from-scratch retrain reproduces the centroids exactly") {
    import org.apache.spark.sql.functions._
    val first = ops.Vectors.ivfCentroids(spark, sf)
      .select(col("cid"), col("cvec")).cache()
    first.count()
    // Reset the memo so the second call RETRAINS — without it the
    // comparison would be the cached plan against itself (vacuous).
    ResultPins.forget("pq", "ivf")
    val again = ops.Vectors.ivfCentroids(spark, sf).select(col("cid"), col("cvec"))
    assert(first.exceptAll(again).count() == 0 && again.exceptAll(first).count() == 0,
      "IVF Lloyd training must be order-free (decimal means)")
    first.unpersist()
  }

  test("vec_pq_codes: complete, in-range, deterministic, beats the 1-centroid baseline") {
    import org.apache.spark.sql.functions._
    val codes = SparkEntry.queries("vec_pq_codes")(spark, sf).cache()
    val nVec = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(codes.count() == nVec * 8, "every vector needs exactly M=8 codes")
    assert(codes.filter(col("code") < 0 || col("code") > 255).count() == 0)
    assert(codes.filter(col("ccid") < 0 || col("ccid") > 15).count() == 0)
    // Reset the memoized model so the second run RETRAINS from scratch —
    // the assertion is that training itself (decimal-mean Lloyd) is
    // order-free, not that a cached model equals itself.
    ResultPins.forget("pq", "ivf")
    val again = SparkEntry.queries("vec_pq_codes")(spark, sf)
    assert(codes.exceptAll(again).count() == 0 && again.exceptAll(codes).count() == 0,
      "PQ training must be deterministic")
    // Trained codebook reconstructs strictly better than one centroid
    // per subspace (k-means with K=8 can never be worse; strictness
    // holds on any non-degenerate corpus).
    val assigned = ops.Vectors.pqAssign(spark, sf)
      .select(col("vec_id"), col("m"), col("sv"), col("d2"))
    val pqErr = assigned.agg(avg(col("d2"))).head().getDouble(0)
    val sub = assigned.select(col("m"), col("sv"),
      expr("vec_dot(sv, sv)").as("snrm2"))
    val one = sub.select(col("m"), posexplode(col("sv")).as(Seq("pos", "x")))
      .groupBy(col("m"), col("pos")).agg(avg(col("x").cast("double")).as("cv"))
      .groupBy(col("m"))
      .agg(expr("transform(sort_array(collect_list(struct(pos, cv))), s -> cast(s.cv as float))").as("cvec"))
      .withColumn("cnrm2", expr("vec_dot(cvec, cvec)"))
    val oneErr = sub.join(one, "m")
      .select((col("snrm2") - lit(2.0) * expr("vec_dot(sv, cvec)") + col("cnrm2")).as("d2"))
      .agg(avg(col("d2"))).head().getDouble(0)
    assert(pqErr < oneErr,
      s"PQ reconstruction error $pqErr not below 1-centroid baseline $oneErr")
  }

  test("vec_pq_adc_topk: self-nearest under ADC and nonzero recall vs exact L2 top-5") {
    import org.apache.spark.sql.functions._
    val adc = SparkEntry.queries("vec_pq_adc_topk")(spark, sf).cache()
    assert(adc.groupBy("q_vec_id").count().filter(col("count") =!= 5).count() == 0,
      "every query needs exactly 5 ADC results")
    // Exact L2 top-5 per query by brute force.
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_vec_id"), col("embedding").as("qv"))
    val exact = q.join(e.select(col("vec_id"), col("embedding")),
        col("q_vec_id") =!= col("vec_id"))
      .withColumn("d2", expr("vec_dot(qv, qv) - 2 * vec_dot(qv, embedding) + vec_dot(embedding, embedding)"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("q_vec_id"))
          .orderBy(col("d2").asc, col("vec_id").asc)))
      .filter(col("rk") <= 5)
      .select(col("q_vec_id"), col("vec_id"))
    val hits = adc.select(col("q_vec_id"), col("vec_id"))
      .join(exact, Seq("q_vec_id", "vec_id"), "left_semi").count()
    val recall = hits.toDouble / exact.count()
    info(s"ADC recall@5 over 20 queries: $recall")
    // IVF-residual encoding + byte-wide codebooks (r7) lift the
    // compressed-domain ranking well clear of chance (random ranking
    // would land ~5/499 per query, recall ~0.01); measured ≈0.5 on this
    // fixture, r6's direct 8×16 PQ sat at 0.20.
    assert(recall >= 0.4, s"ADC recall@5 $recall below 0.4")
  }

  test("vec_pq_adc_probe: nprobe=Kc degenerates to the full ADC ranking") {
    // The pruned search differs from vec_pq_adc_topk ONLY in which
    // (query, cell) pairs survive — probing every cell must reproduce
    // the full compressed-domain ranking row for row. Ranking triples
    // only (the ADC sums aggregate in different join orders, so the
    // doubles may differ in the last ulp; the ORDER they induce cannot,
    // short of exact ties a gaussian fixture does not produce).
    val full = SparkEntry.queries("vec_pq_adc_topk")(spark, sf)
      .select(col("q_vec_id"), col("rk"), col("vec_id"))
    val atK = ops.Vectors.pqAdcProbe(spark, sf, ops.Vectors.PqCoarseK)
      .select(col("q_vec_id"), col("rk"), col("vec_id"))
    assert(atK.exceptAll(full).count() == 0 && full.exceptAll(atK).count() == 0,
      "probing all Kc cells must equal the unpruned ADC ranking")
  }

  test("vec_pq_adc_probe: the op's nprobe=4 keeps most of the full-ADC recall at Kc/4 of the work") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_vec_id"), col("embedding").as("qv"))
    val exact = q.join(e.select(col("vec_id"), col("embedding")),
        col("q_vec_id") =!= col("vec_id"))
      .withColumn("d2", expr("vec_dot(qv, qv) - 2 * vec_dot(qv, embedding) + vec_dot(embedding, embedding)"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("q_vec_id"))
          .orderBy(col("d2").asc, col("vec_id").asc)))
      .filter(col("rk") <= 5)
      .select(col("q_vec_id"), col("vec_id")).cache()
    def recallOf(df: org.apache.spark.sql.DataFrame): Double =
      df.select(col("q_vec_id"), col("vec_id"))
        .join(exact, Seq("q_vec_id", "vec_id"), "left_semi").count().toDouble / exact.count()
    val probed = SparkEntry.queries("vec_pq_adc_probe")(spark, sf)
    assert(probed.groupBy("q_vec_id").count().filter(col("count") =!= 5).count() == 0,
      "every query needs exactly 5 results even under pruning")
    val rProbe = recallOf(probed)
    val rFull = recallOf(SparkEntry.queries("vec_pq_adc_topk")(spark, sf))
    info(s"recall@5: nprobe=4 $rProbe vs full ADC $rFull")
    // Pruning to 4/16 cells reads a quarter of the index; on this
    // fixture the probe set still contains most true neighbors. Floor
    // set at 2/3 of the full-ADC recall (measured 0.38 vs 0.53 full —
    // 0.72× — on the gaussian fixture).
    assert(rProbe >= rFull * 2.0 / 3.0,
      s"nprobe=4 recall $rProbe collapsed vs full ADC $rFull")
    exact.unpersist()
  }

  test("vec_knn_graph blocking: candidate recall of brute edges matches the Charikar prediction") {
    // r10: vec_knn_graph ranks each vector only within its SRP-LSH
    // candidate pool (never corpus×corpus). On THIS corpus — isotropic
    // 64-d gaussians, where even true top-5 neighbors sit at cos ≈ 0.33
    // — hyperplane LSH recall is LOW by mathematics, not by bug:
    // P[8-bit band collision] = (1 − θ/π)^8 ≈ 2-4% per band at those
    // angles (Charikar 2002), so end-to-end graph recall vs brute force
    // measures ≈ 0.07 at both spec tiers. The honest assertion is not a
    // recall floor pulled from air but CONSISTENCY WITH THE PREDICTION:
    // sum the per-edge collision probability 1 − (1 − p^8)^2 over the
    // brute mutual edges' true sims and require the measured candidate
    // hits to land near that expectation. The planted-cluster test
    // below witnesses the other side: at genuine near-dup angles the
    // same pipeline recovers nearly everything.
    val top = SparkEntry.queries("vec_cosine_topk")(spark, sf)
    val brute = top.as("x").join(top.as("y"),
        col("y.a_vec_id") === col("x.b_vec_id") &&
          col("y.b_vec_id") === col("x.a_vec_id"))
      .filter(col("x.a_vec_id") < col("x.b_vec_id"))
      .select(col("x.a_vec_id").as("u"), col("x.b_vec_id").as("v"),
        col("x.cos_sim").as("sim")).cache()
    val cand = ops.Vectors.srpCandidates(spark, sf)
      .select(col("a_vec_id").as("u"), col("b_vec_id").as("v"))
    val hits = brute.join(cand, Seq("u", "v"), "left_semi").count().toDouble
    val predicted = brute.select(col("sim")).collect().map { r =>
      val p = 1.0 - math.acos(math.min(1.0, r.getDouble(0))) / math.Pi
      val band = math.pow(p, 8)
      1.0 - math.pow(1.0 - band, 2)
    }.sum
    info(s"brute edges ${brute.count()}, candidate hits $hits, Charikar-predicted $predicted")
    assert(hits > 0, "SRP candidates recovered no brute edge at all")
    assert(hits >= predicted * 0.4 && hits <= predicted * 3.0,
      s"candidate hits $hits far from the Charikar prediction $predicted — blocking arithmetic broke")
    brute.unpersist()
  }

  test("vec_knn_graph blocking recovers planted near-dup clusters (the angles the dial is tuned for)") {
    // 40 clusters × 4 members at cos ≥ 0.999 (ε = 0.02 gaussian jitter
    // on a shared base): at those angles the per-pair band-collision
    // probability is ≈ 0.99, so the SRP-blocked mutual-kNN pipeline
    // must recover nearly every intra-cluster edge — this is the
    // production claim (near-dups collide; isotropic noise does not,
    // which is what KEEPS the candidate set at ~2% of the pair space).
    import spark.implicits._
    val rnd = new scala.util.Random(20260815L)
    def gauss64(): Array[Double] = Array.fill(64)(rnd.nextGaussian())
    def renorm(a: Array[Double]): Array[Float] = {
      val n = math.sqrt(a.map(x => x * x).sum)
      a.map(x => (x / n).toFloat)
    }
    val rows = (0 until 40).flatMap { c =>
      val base = gauss64()
      (0 until 4).map { m =>
        val e = renorm(base.zip(gauss64()).map { case (b, g) => b + 0.02 * g })
        (c.toLong * 4 + m, e)
      }
    }
    val v = rows.toDF("vec_id", "embedding")
      .withColumn("nrm", sqrt(expr("vec_dot(embedding, embedding)")))
    val blocked = ops.Vectors.blockedMutualKnn(spark, v)
      .select(col("u"), col("v")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val intra = (for { c <- 0 until 40; i <- 0 until 4; j <- i + 1 until 4 }
      yield (c.toLong * 4 + i, c.toLong * 4 + j)).toSet
    val recovered = intra.count(blocked.contains).toDouble / intra.size
    info(s"planted intra-cluster edges ${intra.size}, recovered fraction $recovered")
    assert(recovered >= 0.8,
      s"blocked mutual-kNN recovered only $recovered of planted near-dup edges")
  }

  test("dedup_semantic_clusters: total decision table, canonical = component min, verified pairs co-cluster") {
    val t = SparkEntry.queries("dedup_semantic_clusters")(spark, sf).cache()
    // One decision row per corpus vector (keepers AND droppers — the
    // table a pipeline joins against, so it must be total).
    assert(t.count() == Tables.embeddings(spark, sf).count())
    assert(t.filter(col("canonical_vec_id") > col("vec_id")).count() == 0,
      "canonical must be its component's minimum id")
    assert(t.filter(col("keep") =!= (col("vec_id") === col("canonical_vec_id"))).count() == 0,
      "keep must mark exactly the canonical row")
    assert(t.filter(col("cluster_size") === 1 && col("reason") =!= "unique").count() == 0)
    // Every verified near-dup pair (SRP candidate at cos >= 0.4) must
    // land in the same cluster — the CC stage may only MERGE, never
    // split, the verified graph.
    val verified = ops.Vectors.cosineOfPairs(spark, sf,
        ops.Vectors.srpCandidates(spark, sf))
      .filter(col("sim") >= 0.4).select(col("a_vec_id"), col("b_vec_id"))
    val lbl = t.select(col("vec_id"), col("canonical_vec_id"))
    val broken = verified
      .join(lbl.toDF("a_vec_id", "ca"), "a_vec_id")
      .join(lbl.toDF("b_vec_id", "cb"), "b_vec_id")
      .filter(col("ca") =!= col("cb")).count()
    assert(broken == 0, s"$broken verified near-dup pairs split across clusters")
    t.unpersist()
  }
}
