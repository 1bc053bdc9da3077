package graft

/** Contract of `dedup_minhash_index_delete` (r14) — the sixth lifecycle
  * act: logical tombstone retirement over the immutable index files.
  * (a) The probe's answer is exactly the append key's minus every row
  * touching a retired doc; (b) the tombstone set commits through the
  * same staged-rename protocol (a poisoned uncommitted staging is
  * discarded, never resumed); (c) no retired doc appears on either side
  * of any emitted pair.
  */
class LshDeleteSpec extends SparkSpec {

  test("tombstoned probe ≡ append minus retired rows; tombstone commit is crash-safe") {
    ResultPins.forget("lsh_batch")
    Tables.rmTree(new java.io.File(ops.Dedup.lshAppendDir(spark, sf)))

    val appended = SparkEntry.queries("dedup_minhash_index_append")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val deleted = SparkEntry.queries("dedup_minhash_index_delete")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))

    val want = appended.filter { case (a, b, _) => a % 7 != 0 && b % 7 != 0 }
    assert(deleted.toSeq == want.toSeq,
      "tombstoned probe is not the append answer minus retired rows")
    deleted.foreach { case (a, b, _) =>
      assert(a % 7 != 0 && b % 7 != 0, s"retired doc leaked into pair ($a, $b)")
    }

    // Crash-safety of the tombstone commit: a poisoned staging dir
    // (what a killed retirement run leaves) must be discarded wholesale.
    val dir = ops.Dedup.lshAppendDir(spark, sf)
    Tables.rmTree(new java.io.File(dir, "tombstones"))
    import spark.implicits._
    val staging = new java.io.File(dir, ".tombstones.staging")
    Seq(999999L).toDF("doc_id") // poison: an id the real set never holds
      .write.mode("overwrite").parquet(s"$staging/docs")
    val recovered = SparkEntry.queries("dedup_minhash_index_delete")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(recovered.toSeq == want.toSeq, "retry after the simulated crash changed the answer")
    assert(!staging.exists(), "retry left the crashed tombstone staging behind")
    val ts = spark.read.parquet(s"$dir/tombstones/docs")
      .collect().map(_.getLong(0)).toSet
    assert(!ts.contains(999999L), "retry resumed the poisoned staging instead of discarding it")
    val expect = Tables.documents(spark, sf).select("doc_id").collect()
      .map(_.getLong(0)).filter(_ % 7 == 0).toSet
    assert(ts == expect, s"tombstone set ${ts.size} != expected ${expect.size}")
  }
}
