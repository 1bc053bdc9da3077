package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The PQ encode through vec_nearest assigns exactly what the
  * formulation it replaced assigns: every (vector, subspace) row joined
  * against all K codebook entries, the L2² computed with vec_dot, and
  * min(struct(d2, id, …)) per row. The reference formulations stay here,
  * on the fixture's trained model, so the kernel path is checked row for
  * row and bit for bit on d2.
  */
class PqEncodeSpec extends SparkSpec {

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  test("the residual encode equals the broadcast join + min(struct) per (vec_id, m)") {
    val (_, sub, cb) = ops.Vectors.pqModel(spark, sf)
    def codes(df: DataFrame) = df.select("vec_id", "m", "cid", "ccid", "d2").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), bits(r.getDouble(4)))).toSet
    val want = codes(sub.join(broadcast(cb), "m")
      .withColumn("d2", col("snrm2") - lit(2.0) * expr("vec_dot(sv, cvec)") + col("cnrm2"))
      .groupBy(col("vec_id"), col("m"))
      .agg(min(struct(col("d2"), col("cid"), col("ccid"), col("sv"))).as("b"))
      .select(col("vec_id"), col("m"), col("b.cid").as("cid"), col("b.ccid").as("ccid"), col("b.d2").as("d2")))
    val got = codes(ops.Vectors.pqNearest(sub, cb))
    assert(want.size == sub.count() && want.size == Tables.embeddings(spark, sf).count() * ops.Vectors.PqM)
    assert(got == want, s"kernel-only ${got.diff(want).take(5)} vs reference-only ${want.diff(got).take(5)}")
  }

  test("the coarse encode equals the cross join + min(struct) per vector") {
    val (coarse, _, _) = ops.Vectors.pqModel(spark, sf)
    val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    def cells(df: DataFrame) = df.select("vec_id", "ccid").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val want = cells(emb
      .withColumn("enrm2", expr("vec_dot(embedding, embedding)"))
      .crossJoin(broadcast(coarse))
      .withColumn("d2", col("enrm2") - lit(2.0) * expr("vec_dot(embedding, ccvec)") + col("ccnrm2"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("ccid"), col("embedding"))).as("b"))
      .select(col("vec_id"), col("b.ccid").as("ccid")))
    val got = cells(ops.Vectors.pqNearestCoarse(emb, coarse))
    assert(want.size == emb.count())
    assert(got == want, s"kernel-only ${got.diff(want).take(5)} vs reference-only ${want.diff(got).take(5)}")
  }
}
