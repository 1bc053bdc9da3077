package graft

import org.apache.spark.sql.DataFrame

/** The per-corpus memo (ResultPins.memo) is keyed by the fingerprint of
  * the tables each build reads: a fixture regenerated inside a live
  * session must retrain, not serve (or persist under the new
  * fingerprint's index dir) the previous corpus's model, and must not
  * keep holding the previous model's checkpoints either.
  */
class MemoFingerprintSpec extends SparkSpec {

  test("a rewritten embeddings file retrains the PQ model and persists the new corpus's codes") {
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("graft_memo_fp").toFile
    val dir = root.getPath
    def copy(from: java.io.File, to: java.io.File): Unit =
      if (from.isDirectory) { to.mkdirs(); from.listFiles().foreach(f => copy(f, new java.io.File(to, f.getName))) }
      else java.nio.file.Files.copy(from.toPath, to.toPath): Unit
    def vecIds(df: DataFrame): Set[Long] =
      df.select("vec_id").distinct().collect().map(_.getLong(0)).toSet
    try {
      copy(new java.io.File(sf), root)
      val trained = vecIds(SparkEntry.queries("vec_pq_codes")(spark, dir))
      val held = spark.sparkContext.getPersistentRDDs.size

      // Regenerate the fixture: keep the even vec_ids only.
      val emb = s"$dir/embeddings.parquet"
      val old = spark.read.parquet(emb)
      val kept = old.filter(col("vec_id") % 2 === 0).collect()
      Tables.rmTree(new java.io.File(emb))
      spark.createDataFrame(java.util.Arrays.asList(kept: _*), old.schema)
        .coalesce(1).write.parquet(emb)
      val regenerated = vecIds(spark.read.parquet(emb))
      assert(regenerated.nonEmpty && regenerated != trained, "fixture rewrite changed no vec_id")

      val trains = ops.Vectors.pqTrainCounter.get()
      val codes = vecIds(SparkEntry.queries("vec_pq_codes")(spark, dir))
      assert(ops.Vectors.pqTrainCounter.get() > trains,
        "the PQ model memo served the previous corpus after embeddings.parquet was rewritten")
      assert(codes == regenerated,
        s"vec_pq_codes covers ${codes.size} vec_ids, the rewritten file has ${regenerated.size}")
      // The superseded corpus's model is released, not kept beside the new one.
      assert(spark.sparkContext.getPersistentRDDs.size <= held,
        s"persistent RDDs went $held -> ${spark.sparkContext.getPersistentRDDs.size}: " +
          "the old corpus's model checkpoints are still held")
      val (_, _, persisted) = ops.Vectors.pqPersistedModel(spark, dir)
      assert(vecIds(persisted) == regenerated,
        "the persisted index holds codes of the previous corpus")
    } finally {
      ResultPins.forget("pq")
      Tables.rmTree(new java.io.File(ops.Vectors.pqIndexDir(spark, dir)))
      Tables.rmTree(root)
    }
  }
}
