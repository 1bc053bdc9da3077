package graft

import org.apache.spark.sql.functions._

/** Why dedup_shingle_minhash exists: the bag-of-words family cannot tell
  * a true near-duplicate from a word-order SCRAMBLE (identical token
  * set ⇒ Jaccard 1.0), while 3-word shingling keeps locality in the
  * set. This spec crafts the discriminating corpus — a base doc, a
  * light edit of it (true near-dup), and a full scramble of it (same
  * words, destroyed phrasing) — and pins the split decision: the
  * token-set op pairs BOTH with the base; the shingle op pairs ONLY
  * the light edit. Ops are sfDir-parameterized, so the spec feeds them
  * its own parquet corpus.
  */
class ShingleSpec extends SparkSpec {

  private lazy val dir: String = {
    val d = Tables.tmp("graft_shingle_fixture")
    Tables.rmTree(new java.io.File(d))
    val words = (1 to 60).map(i => s"w$i")
    val base = words.mkString(" ")
    // Light edit: swap ONE adjacent word pair — shingle Jaccard stays
    // high (3 of 58 shingles change per swapped position).
    val edited = (words.take(30) ++ Seq(words(31), words(30)) ++ words.drop(32)).mkString(" ")
    // Scramble: reverse order — same token SET, almost no shared shingle.
    val scrambled = words.reverse.mkString(" ")
    import spark.implicits._
    Seq(
      (0L, base, "en", "spec", base.length.toLong),
      (1L, edited, "en", "spec", edited.length.toLong),
      (2L, scrambled, "en", "spec", scrambled.length.toLong),
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$d/documents.parquet")
    d
  }

  test("token-set Jaccard calls a word-order scramble a perfect duplicate") {
    val pairs = SparkEntry.queries("sim_jaccard_pairs")(spark, dir)
      .select("a_doc_id", "b_doc_id", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // All three docs share the same 60-token set: every pair is J = 1.0.
    assert(pairs.keySet == Set((0L, 1L), (0L, 2L), (1L, 2L)),
      s"expected all three pairs at token level, got ${pairs.keySet}")
    assert(pairs.values.forall(_ >= 0.999), s"token Jaccard should be 1.0: $pairs")
  }

  test("shingle MinHash keeps the true near-dup and rejects the scramble") {
    val pairs = SparkEntry.queries("dedup_shingle_minhash")(spark, dir)
      .select("a_doc_id", "b_doc_id", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs.contains((0L, 1L)),
      s"the one-swap edit must survive the shingle threshold, got ${pairs.keySet}")
    assert(pairs((0L, 1L)) >= 0.8 && pairs((0L, 1L)) < 0.999,
      s"edit pair should be near- but not exact-dup: ${pairs((0L, 1L))}")
    assert(!pairs.contains((0L, 2L)) && !pairs.contains((1L, 2L)),
      s"the scramble shares the token set but not the phrasing — must NOT pair: ${pairs.keySet}")
  }
}
