package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** sf1 fixture generator (r10, the r9 verdict's item 8) — a 10× scale
  * tier for the blocked-family scaling witnesses, derived
  * DETERMINISTICALLY from the driver's sf0.1 corpus (no RNG, so any two
  * hosts generate byte-identical relations and Sf1WitnessSpec timings
  * compare like for like).
  *
  * Scaling model: R statistically-identical shards, the TPC-H notion of
  * a bigger scale factor — every key domain grows with the data:
  *  - documents ×10: per-shard token vocabularies are disjoint
  *    (every token gets a `_r<shard>` suffix for shards ≥ 1), so shingle /
  *    MinHash / token-set structure replicates WITHIN shards and never
  *    collides across them; output pair counts grow ~linearly, matching
  *    a 10×-bigger crawl, not a 10×-duplicated one (a raw UNION of
  *    identical copies would manufacture 45 cross-copy dup pairs per doc
  *    — quadratic in R — and invalidate the witness).
  *  - embeddings ×4 (the driver's own sub-linear embeddings step,
  *    500 → 2 000 over sf0.01 → sf0.1): each shard applies one
  *    orthogonal map (circular dimension shift + deterministic sign
  *    flips), which preserves within-shard pairwise cosines EXACTLY and
  *    leaves cross-shard sims at the near-orthogonal noise floor of the
  *    iid-coordinate corpus.
  *  - lineitem/part ×10 with shard-offset keys on BOTH the order and the
  *    part side: per-part co-purchase degree stays constant (offsetting
  *    only orders would grow every part's degree 10× and the wedge count
  *    100× — a scaling artifact, not a data property).
  *
  * Usage: `runMain graft.GenSf1 [srcDir] [outDir]` (defaults
  * /root/testdata/sf0.1 → /root/repo/artifacts/sf1). Output is
  * generated-on-demand and gitignored; Sf1WitnessSpec assumes it absent
  * unless GRAFT_SF1_DIR points at it.
  */
object GenSf1 {
  val DocShards  = 10
  val EmbShards  = 4
  val FactShards = 10

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/root/repo/artifacts/sf1"
    val spark = Session()
    generate(spark, src, out)
    println(s"[gensf1] wrote documents/embeddings/lineitem/part/orders under $out")
    spark.stop()
  }

  def generate(s: SparkSession, src: String, out: String): Unit = {
    def shards(n: Int): DataFrame =
      s.range(n.toLong).select(col("id").cast("int").as("rep"))

    // documents: doc_id offset 10^7 per shard; shard-suffixed tokens keep
    // vocabularies disjoint; n_chars recomputed from the rewritten text.
    val docs = Tables.documents(s, src).crossJoin(shards(DocShards))
      .select(
        (col("doc_id") + col("rep").cast("long") * lit(10000000L)).as("doc_id"),
        when(col("rep") === 0, col("text")).otherwise(expr(
          "array_join(transform(split(text, ' '), w -> concat(w, '_r', cast(rep as string))), ' ')"))
          .as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    docs.repartition(8).write.mode("overwrite").parquet(s"$out/documents.parquet")

    // embeddings: per-shard orthogonal map — dims rotate by 17·rep and
    // flip sign on a rep-dependent parity. float in, float out (the
    // engine's pinned vector width).
    val embs = Tables.embeddings(s, src).crossJoin(shards(EmbShards))
      .select(
        (col("vec_id") + col("rep").cast("long") * lit(1000000L)).as("vec_id"),
        expr("""transform(sequence(0, 63), d ->
                 embedding[(d + 17 * rep) % 64] *
                 cast(case when (d + 31 * rep) % 2 = 0 then 1.0 else -1.0 end as float))""")
          .as("embedding"),
        col("label"))
    embs.repartition(4).write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    // part + lineitem: shard-offset surrogate keys on every FK column the
    // co-purchase graph touches.
    val part = Tables.part(s, src).crossJoin(shards(FactShards))
      .select(
        (col("p_partkey") + col("rep").cast("long") * lit(10000000L)).as("p_partkey"),
        col("p_name"), col("p_brand"), col("p_type"), col("p_size"), col("p_retailprice"))
    part.repartition(8).write.mode("overwrite").parquet(s"$out/part.parquet")

    // orders (r13, the r12 verdict's item 5): shard-offset keys, dates
    // UNCHANGED — the month-partition domain stays fixed while rows grow
    // 10×, which is exactly the partitioned-merge witness's claim (COW
    // cost ∝ matched months, not table size).
    val ord = Tables.orders(s, src).crossJoin(shards(FactShards))
      .select(
        (col("o_orderkey") + col("rep").cast("long") * lit(100000000L)).as("o_orderkey"),
        (col("o_custkey") + col("rep").cast("long") * lit(10000000L)).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))
    ord.repartition(8).write.mode("overwrite").parquet(s"$out/orders.parquet")

    val li = Tables.lineitem(s, src).crossJoin(shards(FactShards))
      .select(
        (col("l_orderkey") + col("rep").cast("long") * lit(100000000L)).as("l_orderkey"),
        (col("l_partkey") + col("rep").cast("long") * lit(10000000L)).as("l_partkey"),
        (col("l_suppkey") + col("rep").cast("long") * lit(1000000L)).as("l_suppkey"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"),
        col("l_linestatus"), col("l_shipdate"))
    li.repartition(16).write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    // FULL-SUITE tier (r15, the r14 verdict's item 4): the remaining
    // five tables, so every key — not just the ~20 witness keys — runs
    // at sf1. region/nation are FIXED dims (TPC-H keeps them constant
    // across scale factors); customer/supplier shard-offset their keys
    // with the SAME offsets orders/lineitem already use for o_custkey /
    // l_suppkey, so FK joins stay consistent across the tier; events
    // grows 10× with offset event/user ids over the UNCHANGED time
    // domain (10× the traffic in the same weeks — the partitioned-merge
    // witness's model).
    s.read.parquet(s"$src/region.parquet")
      .write.mode("overwrite").parquet(s"$out/region.parquet")
    s.read.parquet(s"$src/nation.parquet")
      .write.mode("overwrite").parquet(s"$out/nation.parquet")
    s.read.parquet(s"$src/customer.parquet").crossJoin(shards(FactShards))
      .select(
        (col("c_custkey") + col("rep").cast("long") * lit(10000000L)).as("c_custkey"),
        col("c_name"), col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
      .repartition(8).write.mode("overwrite").parquet(s"$out/customer.parquet")
    s.read.parquet(s"$src/supplier.parquet").crossJoin(shards(FactShards))
      .select(
        (col("s_suppkey") + col("rep").cast("long") * lit(1000000L)).as("s_suppkey"),
        col("s_name"), col("s_nationkey"), col("s_acctbal"))
      .repartition(4).write.mode("overwrite").parquet(s"$out/supplier.parquet")
    Tables.events(s, src).crossJoin(shards(FactShards))
      .select(
        (col("event_id") + col("rep").cast("long") * lit(100000000L)).as("event_id"),
        col("ts"),
        (col("user_id") + col("rep").cast("long") * lit(10000000L)).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .repartition(8).write.mode("overwrite").parquet(s"$out/events.parquet")
  }
}
