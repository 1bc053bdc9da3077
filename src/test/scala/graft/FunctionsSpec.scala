package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen

import graft.functions.TopKAgg

/** Unit/property coverage for the custom functions — the one area where
  * internal states (partial-aggregation merges, kernel heaps) exist that
  * the end-to-end oracle can't isolate.
  */
class FunctionsSpec extends SparkSpec {

  private def gen[T](g: Gen[T], seed: Long): Option[T] =
    g.apply(Gen.Parameters.default, org.scalacheck.rng.Seed(seed))

  private def referenceTopK(xs: List[(Long, Double)], k: Int): Seq[(Long, Double)] =
    xs.sortBy { case (id, m) => (-m, id) }.take(k)

  test("TopKAgg merge is split-invariant (scalacheck): any partitioning = global sort-take") {
    val pair = for {
      id <- Gen.choose(0L, 50L)
      m <- Gen.choose(0, 100).map(_ / 10.0) // coarse values force ties
    } yield (id, m)
    val rowsGen = Gen.listOfN(40, pair)
    (0 until 100).foreach { seed =>
      val rows = gen(rowsGen, seed.toLong).getOrElse(Nil)
      val splitAt = gen(Gen.choose(0, rows.size), seed + 1000L).getOrElse(0)
      val agg = new TopKAgg(5)
      val (l, r) = rows.splitAt(splitAt)
      val bufL = l.foldLeft(agg.zero)(agg.reduce)
      val bufR = r.foldLeft(agg.zero)(agg.reduce)
      val merged = agg.finish(agg.merge(bufL, bufR))
      assert(merged == referenceTopK(rows, 5),
        s"seed=$seed split=$splitAt rows=$rows")
    }
  }

  test("vec_dot equals an independent per-element reference on random vectors") {
    graft.functions.FloatVecDot.register(spark)
    val rnd = new scala.util.Random(7)
    val n = 40
    val mat = Array.fill(n)(Array.fill(8)(rnd.nextFloat() - 0.5f))
    import spark.implicits._
    val df = mat.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toSeq.toDF("id", "v")
    val got = df.selectExpr("id", "vec_dot(v, v) AS d")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    mat.zipWithIndex.foreach { case (v, i) =>
      var acc = 0.0
      v.foreach(x => acc += x.toDouble * x.toDouble)
      assert(got(i.toLong) == acc, s"vector $i")
    }
  }

  test("vec_dot returns null on null input and errors on wrong types") {
    graft.functions.FloatVecDot.register(spark)
    val r = spark.sql(
      "SELECT vec_dot(CAST(NULL AS ARRAY<FLOAT>), array(cast(1.0 as float))) AS d")
      .first()
    assert(r.isNullAt(0))
    val err = intercept[Exception] {
      spark.sql("SELECT vec_dot(array(1), array(2))").collect()
    }
    assert(err.getMessage.toLowerCase.contains("array<float>"))
  }

  /** One vec_nearest case: a query vector and a codebook of (id,
    * centroid, squared norm) entries, in array order.
    */
  private case class NearestCase(x: Array[Float], xnrm2: Double,
      book: Seq[(Int, Array[Float], Double)])

  /** Random 8-d cases on a coarse value grid, so distinct centroids tie
    * often; every other case also plants exact duplicates of an entry
    * under other ids, and the entries arrive in shuffled id order.
    */
  private def nearestCases(rnd: scala.util.Random): Seq[NearestCase] = {
    def vec() = Array.fill(8)((rnd.nextInt(5) - 2) * 0.5f)
    def nrm2(v: Array[Float]) = v.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble)
    val random = (0 until 60).map { i =>
      val entries = (0 until 1 + rnd.nextInt(12)).map { _ => val c = vec(); (c, nrm2(c)) }
      val planted = if (i % 2 == 0) Seq.fill(1 + rnd.nextInt(3))(entries(rnd.nextInt(entries.size))) else Nil
      val ids = rnd.shuffle((0 until entries.size + planted.size).map(_ * 3 + rnd.nextInt(3)))
      val x = vec()
      NearestCase(x, nrm2(x), ids.zip(entries ++ planted).map { case (id, (c, n)) => (id, c, n) })
    }
    val zero = Array.fill(8)(0f)
    val nanC = vec(); nanC(3) = Float.NaN
    random ++ Seq(
      // A NaN component makes that entry's d2 NaN: the largest value.
      NearestCase(vec(), 1.0, Seq((5, nanC, nrm2(nanC)), (9, vec(), 2.0), (2, nanC, 0.5))),
      // Every d2 NaN: the smallest id wins.
      NearestCase(zero, Double.NaN, Seq((7, zero, 0.0), (4, zero, 1.0), (6, zero, 2.0))),
      // d2 = -0.0 + cnrm2: -0.0 against 0.0 is a tie, going to the smaller id either way round.
      NearestCase(zero, -0.0, Seq((8, zero, -0.0), (3, zero, 0.0), (11, zero, 1.0))),
      NearestCase(zero, -0.0, Seq((8, zero, 0.0), (3, zero, -0.0), (11, zero, 1.0))))
  }

  /** (case id, nearest id, raw bits of its d2) from vec_nearest and from
    * the reference: every (case, entry) row with its vec_dot distance,
    * min(struct(d2, id)) per case.
    */
  private def nearestBoth(cases: Seq[NearestCase]): (Map[Long, (Int, Long)], Map[Long, (Int, Long)]) = {
    import spark.implicits._
    val rows = cases.zipWithIndex.map { case (c, i) =>
      (i.toLong, c.x, c.xnrm2, c.book.map(_._1).toArray, c.book.flatMap(_._2).toArray, c.book.map(_._3).toArray)
    }.toDF("cid", "x", "xnrm2", "ids", "cents", "cnrm2s")
    val entries = cases.zipWithIndex.flatMap { case (c, i) =>
      c.book.map { case (id, v, n) => (i.toLong, id, v, n) }
    }.toDF("cid", "id", "c", "cnrm2")
    def result(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> (r.getInt(1), java.lang.Double.doubleToRawLongBits(r.getDouble(2)))).toMap
    val got = result(rows.select(col("cid"), expr("vec_nearest(x, xnrm2, ids, cents, cnrm2s)").as("b"))
      .select(col("cid"), col("b.id"), col("b.d2")))
    val want = result(rows.select("cid", "x", "xnrm2").join(entries, "cid")
      .withColumn("d2", col("xnrm2") - lit(2.0) * expr("vec_dot(x, c)") + col("cnrm2"))
      .groupBy("cid").agg(min(struct(col("d2"), col("id"))).as("b"))
      .select(col("cid"), col("b.id"), col("b.d2")))
    (got, want)
  }

  test("vec_nearest equals min(struct(d2, id)) over the codebook: ties, NaN and -0.0, codegen and interpreted") {
    graft.functions.FloatVecDot.register(spark)
    graft.functions.VecNearest.register(spark)
    val cases = nearestCases(new scala.util.Random(17))
    val ties = cases.count(c => c.book.groupBy(e => (e._2.toSeq, e._3)).exists(_._2.size > 1))
    assert(ties >= 30, s"only $ties cases plant an exact tie")
    // No fallback: a generated-code compile error fails the test.
    spark.conf.set("spark.sql.codegen.fallback", "false")
    val (got, want) = try nearestBoth(cases) finally spark.conf.unset("spark.sql.codegen.fallback")
    assert(want.size == cases.size)
    assert(got == want, s"codegen: ${got.toSet.diff(want.toSet)} vs ${want.toSet.diff(got.toSet)}")
    // The hand-made cases, checked against their expected winners too.
    val n = cases.size
    assert(want(n - 4L)._1 == 9 && want(n - 3L)._1 == 4 && want(n - 2L)._1 == 3 && want(n - 1L)._1 == 3)
    assert(java.lang.Double.longBitsToDouble(want(n - 3L)._2).isNaN)
    assert(want(n - 2L)._2 == java.lang.Double.doubleToRawLongBits(0.0) &&
      want(n - 1L)._2 == java.lang.Double.doubleToRawLongBits(-0.0))
    val confs = Seq("spark.sql.codegen.wholeStage" -> "false", "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val (interp, _) = nearestBoth(cases)
      assert(interp == want, "the interpreted path differs from the reference")
    } finally confs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("vec_nearest returns null on a null input or an empty codebook, and rejects a bad call") {
    graft.functions.VecNearest.register(spark)
    val args = Seq("array(cast(1.0 as float))", "1.0d", "array(4)", "array(cast(2.0 as float))", "array(4.0d)")
    val types = Seq("ARRAY<FLOAT>", "DOUBLE", "ARRAY<INT>", "ARRAY<FLOAT>", "ARRAY<DOUBLE>")
    def call(as: Seq[String]) = spark.sql(s"SELECT vec_nearest(${as.mkString(", ")}) AS b").first()
    assert(call(args).getStruct(0) == org.apache.spark.sql.Row(4, 1.0 - 4.0 + 4.0))
    for (i <- args.indices)
      assert(call(args.updated(i, s"CAST(NULL AS ${types(i)})")).isNullAt(0), s"null argument $i")
    val empty = Seq("CAST(array() AS ARRAY<INT>)", "CAST(array() AS ARRAY<FLOAT>)", "CAST(array() AS ARRAY<DOUBLE>)")
    assert(call(args.take(2) ++ empty).isNullAt(0), "an empty codebook")
    // Wrong element or argument types fail at analysis, as vec_dot's do.
    for (bad <- Seq(args.updated(0, "array(1)"), args.updated(1, "1"), args.updated(2, "array(4L)"),
        args.updated(4, "array(cast(4.0 as float))"))) {
      val err = intercept[org.apache.spark.sql.AnalysisException](call(bad))
      assert(err.getMessage.contains("vec_nearest requires"), err.getMessage)
    }
    intercept[org.apache.spark.sql.AnalysisException](call(args.take(4)))
    // A codebook whose arrays disagree in size fails the query, never a silent answer.
    val err = intercept[Exception](call(args.updated(4, "array(4.0d, 5.0d)")))
    assert(err.toString.contains("do not describe one codebook") ||
      Option(err.getCause).exists(_.toString.contains("do not describe one codebook")), err.toString)
  }

  test("simhash60 equals the per-bit HOF formulation on random token hashes") {
    graft.functions.SimHash60.register(spark)
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = (0 until 50).map { i =>
      (i.toLong, Array.fill(1 + rnd.nextInt(40))(rnd.nextLong() & ((1L << 60) - 1)))
    }
    val df = rows.toDF("id", "hs")
    val got = df.selectExpr("id", "simhash60(hs) AS sh")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = df.selectExpr("id",
      "aggregate(sequence(0, 59), 0L, (acc, j) -> acc | if(aggregate(hs, 0, (a, h) -> a + if(((h >> j) & 1) = 1, 1, -1)) > 0, shiftleft(1L, j), 0L)) AS sh")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
    // Interpreted path (eval) agrees with codegen: force via a literal.
    val one = spark.sql("SELECT simhash60(array(CAST(7 AS BIGINT))) AS sh").first().getLong(0)
    assert(one == 7L)
    assert(spark.sql("SELECT simhash60(CAST(NULL AS ARRAY<BIGINT>)) AS sh").first().isNullAt(0))
  }

}
