package graft.ops

import graft.{Op, OpGroup, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** §2.M (round 5) — dataset curation operators a training-data pipeline
  * runs between dedup and export: deterministic train/val/test splitting,
  * per-stratum quota sampling, token-budget sequence packing, and
  * single-pass column profiling. No reference analog (cobradb is a
  * loader); these extend §2.L's LLM-pipeline family with the selection /
  * batching stages.
  *
  * Determinism rule: anything "random" keys off md5(doc_id) — a fixed,
  * engine-portable hash — never rand(). A split must be reproducible
  * across runs AND engines or downstream eval is meaningless; this is the
  * same discipline the reference's deterministic loaders imply and the
  * portable-md5 scheme the dedup family already uses.
  */
object Sampling extends OpGroup {

  /** 28-bit integer hash of a column, identical in both engines:
    * first 7 hex digits of md5 of the value's string form.
    */
  private def hash28(c: org.apache.spark.sql.Column) =
    conv(substring(md5(c.cast("string")), 1, 7), 16, 10).cast("bigint")

  /** Deterministic train/val/test split (80/10/10) by hashed doc_id:
    * every engine, run, and scale assigns each doc the same bucket —
    * the reproducible-split contract of a training pipeline. Pure
    * per-row projection: embarrassingly parallel, no shuffle before the
    * output sort at any scale.
    */
  private val hashSplit = Op(
    "sample_hash_split",
    (s, sf) =>
      Tables.documents(s, sf)
        .select(col("doc_id"), pmod(hash28(col("doc_id")), lit(100)).as("bucket"))
        .withColumn("split",
          when(col("bucket") < 80, "train")
            .when(col("bucket") < 90, "val")
            .otherwise("test"))
        .orderBy("doc_id"),
    Some("""SELECT doc_id, CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 7)) AS BIGINT) % 100 AS bucket, CASE WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 7)) AS BIGINT) % 100 < 80 THEN 'train' WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 7)) AS BIGINT) % 100 < 90 THEN 'val' ELSE 'test' END AS split FROM documents ORDER BY doc_id"""),
  )

  /** Stratified quota sample: exactly min(quota, |stratum|) docs per
    * (lang, source) stratum, chosen by hash order (deterministic, no
    * rand()), doc_id as the total tiebreak. The per-stratum window
    * parallelizes across strata; a single giant stratum at 100 TB would
    * use the two-phase bounded-heap shape instead ([[graft.functions
    * .VecTopK]] — partial top-q per partition, merge q), which is why
    * the quota, not the stratum, bounds what this shuffles.
    */
  private val stratified = Op(
    "sample_stratified",
    (s, sf) => {
      val q = 200
      Tables.documents(s, sf)
        .select(col("doc_id"), col("lang"), col("source"),
          hash28(col("doc_id")).as("hk"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("lang"), col("source"))
            .orderBy(col("hk"), col("doc_id"))).cast("int"))
        .filter(col("rk") <= q)
        .select(col("lang"), col("source"), col("rk"), col("doc_id"))
        .orderBy("lang", "source", "rk")
    },
    Some("""SELECT lang, source, CAST(ROW_NUMBER() OVER (PARTITION BY lang, source ORDER BY CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 7)) AS BIGINT), doc_id) AS INT) AS rk, doc_id FROM documents QUALIFY rk <= 200 ORDER BY lang, source, rk"""),
  )

  /** Token-budget sequence packing — the batching stage before training:
    * docs are laid out in a deterministic order (doc_id) within each
    * lang shard and cut into bins of ~2048 tokens; a doc lands in the
    * bin where its span STARTS (chunked next-fit — the streaming layout
    * a concat-and-chunk packer produces). Running cumsum per shard via
    * window; shards (not the corpus) bound the window partition, so the
    * layout parallelizes across shards at any scale. Token count =
    * whitespace tokens, same formula both engines.
    */
  private val packSequences = Op(
    "pack_sequences_budget",
    (s, sf) => {
      val budget = 2048
      Tables.documents(s, sf)
        .select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).cast("bigint").as("n_tokens"))
        .withColumn("cum", sum(col("n_tokens")).over(
          Window.partitionBy(col("lang")).orderBy(col("doc_id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("lang"), col("doc_id"), col("n_tokens"),
          floor((col("cum") - col("n_tokens")) / budget).as("bin_id"),
          (col("cum") - col("n_tokens") - floor((col("cum") - col("n_tokens")) / budget) * budget)
            .as("bin_offset"))
        .orderBy("lang", "doc_id")
    },
    Some("""WITH t AS (SELECT lang, doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) OVER (PARTITION BY lang ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM documents) SELECT lang, doc_id, n_tokens, CAST(floor((cum - n_tokens) / 2048) AS BIGINT) AS bin_id, CAST(cum - n_tokens - CAST(floor((cum - n_tokens) / 2048) AS BIGINT) * 2048 AS BIGINT) AS bin_offset FROM t ORDER BY lang, doc_id"""),
  )

  /** Single-pass column profile of `documents` — the sanity gate a
    * pipeline runs on every new data drop: per column, row count, null
    * count, exact NDV, lexical min/max (string-rendered). ONE scan
    * computes every aggregate (15 aggs in one partial-agg pass), then a
    * stack() pivots to long form — vs the naive per-column UNION of
    * scans, which reads the table once per column.
    */
  private val columnProfile = Op(
    "stats_column_profile",
    (s, sf) => {
      val cols = Seq("doc_id", "lang", "source", "n_chars")
      val aggs = cols.flatMap { c =>
        Seq(
          count(col(c)).as(s"${c}_n"),
          countDistinct(col(c)).as(s"${c}_ndv"),
          // Typed min/max, THEN string-render: lexical min of the cast
          // would rank "99" over "499" for numeric columns.
          min(col(c)).cast("string").as(s"${c}_min"),
          max(col(c)).cast("string").as(s"${c}_max"),
        )
      }
      val total = count(lit(1)).as("n_rows")
      val wide = Tables.documents(s, sf).agg(total, aggs: _*)
      val stackArgs = cols.map(c =>
        s"'$c', ${c}_n, ${c}_ndv, ${c}_min, ${c}_max").mkString(", ")
      wide.select(col("n_rows"),
          expr(s"stack(${cols.size}, $stackArgs) as (column_name, n_non_null, ndv, min_value, max_value)"))
        .select(col("column_name"), col("n_non_null"),
          (col("n_rows") - col("n_non_null")).as("n_null"),
          col("ndv"), col("min_value"), col("max_value"))
        .orderBy("column_name")
    },
    Some("""WITH w AS (SELECT COUNT(*) AS n_rows, COUNT(doc_id) AS doc_id_n, COUNT(DISTINCT doc_id) AS doc_id_ndv, CAST(MIN(doc_id) AS VARCHAR) AS doc_id_min, CAST(MAX(doc_id) AS VARCHAR) AS doc_id_max, COUNT(lang) AS lang_n, COUNT(DISTINCT lang) AS lang_ndv, CAST(MIN(lang) AS VARCHAR) AS lang_min, CAST(MAX(lang) AS VARCHAR) AS lang_max, COUNT(source) AS source_n, COUNT(DISTINCT source) AS source_ndv, CAST(MIN(source) AS VARCHAR) AS source_min, CAST(MAX(source) AS VARCHAR) AS source_max, COUNT(n_chars) AS n_chars_n, COUNT(DISTINCT n_chars) AS n_chars_ndv, CAST(MIN(n_chars) AS VARCHAR) AS n_chars_min, CAST(MAX(n_chars) AS VARCHAR) AS n_chars_max FROM documents) SELECT column_name, n_non_null, n_rows - n_non_null AS n_null, ndv, min_value, max_value FROM (SELECT 'doc_id' AS column_name, doc_id_n AS n_non_null, n_rows, doc_id_ndv AS ndv, doc_id_min AS min_value, doc_id_max AS max_value FROM w UNION ALL SELECT 'lang', lang_n, n_rows, lang_ndv, lang_min, lang_max FROM w UNION ALL SELECT 'source', source_n, n_rows, source_ndv, source_min, source_max FROM w UNION ALL SELECT 'n_chars', n_chars_n, n_rows, n_chars_ndv, n_chars_min, n_chars_max FROM w) t ORDER BY column_name"""),
  )

  /** END-TO-END curation decision table (r5) — the composite the other
    * curation ops exist for: one dataflow scores every document
    * (linear quality model), counts tokens, resolves exact duplicates
    * (canonical-hash group, keep-one winner), assigns the reproducible
    * split, and emits keep/drop with the FIRST failing rule as the
    * reason — precedence stated explicitly (dup > quality > length)
    * because a real pipeline audits drop reasons by stage. One scan,
    * one window over canonical-hash groups, everything else per-row
    * projection; at 100 TB this is exactly the one-pass decision pass
    * run before export, with near-dup losers joined in from
    * dedup_cluster_cc's keep-one table as a second input.
    */
  private val curationPipeline = Op(
    "etl_curation_pipeline",
    (s, sf) => {
      val d = Tables.documents(s, sf)
        .withColumn("toks", split(lower(col("text")), " "))
        .withColumn("n_tok", size(col("toks")))
        .withColumn("n_stop", size(expr(
          "filter(toks, x -> x IN ('the','and','of','to','in','is','you','that','it','was'))")))
        .withColumn("n_digit",
          length(col("text")) - length(regexp_replace(col("text"), "[0-9]", "")))
        .withColumn("quality", graft.ops.parity.r6(least(lit(1.0), greatest(lit(0.0),
          lit(0.3) + least(col("n_tok").cast("double") / 200, lit(0.35)) +
            col("n_stop").cast("double") / col("n_tok") * 0.5 -
            col("n_digit").cast("double") / length(col("text")) * 2.0))))
        .withColumn("canon_hash", md5(concat_ws(" ", sort_array(col("toks")))))
      d.withColumn("canonical_doc_id",
          min(col("doc_id")).over(Window.partitionBy(col("canon_hash"))))
        .withColumn("is_dup_loser", col("doc_id") =!= col("canonical_doc_id"))
        .withColumn("bucket", pmod(hash28(col("doc_id")), lit(100)))
        .withColumn("split",
          when(col("bucket") < 80, "train").when(col("bucket") < 90, "val")
            .otherwise("test"))
        .withColumn("reason",
          when(col("is_dup_loser"), "exact_dup")
            .when(col("quality") < 0.5, "low_quality")
            .when(col("n_tok") < 20 || col("n_tok") > 1000, "bad_length")
            .otherwise("keep"))
        .select(col("doc_id"), col("quality"), col("n_tok"), col("is_dup_loser"),
          col("split"), (col("reason") === "keep").as("keep"), col("reason"))
        .orderBy("doc_id")
    },
    Some("""WITH base AS (SELECT doc_id, text, string_split(lower(text), ' ') AS toks, len(list_filter(string_split(lower(text), ' '), x -> x IN ('the','and','of','to','in','is','you','that','it','was'))) AS n_stop, length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit FROM documents), scored AS (SELECT doc_id, CAST(len(toks) AS INT) AS n_tok, ROUND(1e-9 + LEAST(1.0, GREATEST(0.0, 0.3 + LEAST(CAST(len(toks) AS DOUBLE) / 200, 0.35) + CAST(n_stop AS DOUBLE) / len(toks) * 0.5 - CAST(n_digit AS DOUBLE) / length(text) * 2.0)), 6) AS quality, md5(array_to_string(list_sort(toks), ' ')) AS canon_hash FROM base), flagged AS (SELECT doc_id, quality, n_tok, doc_id <> MIN(doc_id) OVER (PARTITION BY canon_hash) AS is_dup_loser, CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 7)) AS BIGINT) % 100 AS bucket FROM scored) SELECT doc_id, quality, n_tok, is_dup_loser, CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split, CASE WHEN is_dup_loser THEN false WHEN quality < 0.5 THEN false WHEN n_tok < 20 OR n_tok > 1000 THEN false ELSE true END AS keep, CASE WHEN is_dup_loser THEN 'exact_dup' WHEN quality < 0.5 THEN 'low_quality' WHEN n_tok < 20 OR n_tok > 1000 THEN 'bad_length' ELSE 'keep' END AS reason FROM flagged ORDER BY doc_id"""),
  )

  /** WEIGHTED deterministic sampling (r6) — the quality-weighted corpus
    * downsampling stage (upsample long/high-quality docs, downsample
    * short ones) with NO rand(): each doc draws u = hash28/2²⁸ — a
    * reproducible uniform — and survives iff u < w, where w is the
    * doc's token-length-scaled weight clamped to [0.05, 0.95]. Pure
    * per-row projection (the sample_hash_split contract: same keep set
    * on every engine, run, and scale); expected kept fraction = mean w.
    */
  private val weightedHash = Op(
    "sample_weighted_hash",
    (s, sf) => {
      val w = least(lit(0.95), greatest(lit(0.05),
        size(split(lower(col("text")), " ")).cast("double") / 150))
      // Filter on the RAW quotients, round only survivors (the
      // maskVerify discipline — the boundary can't flip on rounding).
      Tables.documents(s, sf)
        .withColumn("w_raw", w)
        .withColumn("u_raw", hash28(col("doc_id")).cast("double") / (1L << 28))
        .filter(col("u_raw") < col("w_raw"))
        .select(col("doc_id"), graft.ops.parity.r6(col("w_raw")).as("weight"), graft.ops.parity.r6(col("u_raw")).as("u"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, ROUND(1e-9 + LEAST(0.95, GREATEST(0.05, CAST(len(string_split(lower(text), ' ')) AS DOUBLE) / 150)), 6) AS weight, ROUND(1e-9 + CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 7)) AS BIGINT) AS DOUBLE) / 268435456, 6) AS u FROM documents WHERE CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 7)) AS BIGINT) AS DOUBLE) / 268435456 < LEAST(0.95, GREATEST(0.05, CAST(len(string_split(lower(text), ' ')) AS DOUBLE) / 150)) ORDER BY doc_id"""),
  )

  /** TEMPERATURE-SCALED mixture sampling (r6) — the multilingual /
    * multi-source data-mixing stage of an LLM pipeline: raw language
    * shares p_l are flattened to w_l = p_l^0.5 / SUM p^0.5 (temperature
    * alpha = 0.5 boosts low-resource languages), each language gets a
    * target quota out of a 400-doc budget, and the quota is filled
    * DETERMINISTICALLY by md5-hash order (the sample_stratified
    * machinery — no rand(), reproducible at any scale). Parity of the
    * weight arithmetic: sqrt is IEEE-correctly-rounded (engine-
    * identical, unlike pow/exp), each sqrt(p) is rounded then
    * decimal-cast before the 5-row exact sum, and the final weights
    * divide identical doubles. Only the rank window touches doc volume;
    * everything else aggregates 5 rows.
    */
  private val temperatureMixture = Op(
    "sample_temperature_mixture",
    (s, sf) => {
      import graft.ops.parity.{dec, r6}
      val budget = 400
      val counts = Tables.documents(s, sf)
        .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      val tot = counts.agg(sum(col("n_docs")).as("n_total"))
      val weighted = counts.crossJoin(tot)
        .withColumn("orig_share", col("n_docs").cast("double") / col("n_total"))
        .withColumn("sp", dec(r6(sqrt(col("orig_share")))))
      val norm = weighted.agg(sum(col("sp")).as("sp_tot"))
      val targets = weighted.crossJoin(norm)
        .withColumn("temp_weight",
          col("sp").cast("double") / col("sp_tot").cast("double"))
        .withColumn("target_n",
          round(col("temp_weight") * budget + lit(1e-9), 0).cast("int"))
      val ranked = Tables.documents(s, sf)
        .select(col("doc_id"), col("lang"), hash28(col("doc_id")).as("hk"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("lang")).orderBy(col("hk"), col("doc_id"))).cast("int"))
      val sampled = ranked.join(broadcast(targets.select(col("lang"), col("target_n"))), "lang")
        .filter(col("rk") <= col("target_n"))
        .groupBy(col("lang")).agg(count(lit(1)).as("n_sampled"))
      targets.join(sampled, Seq("lang"), "left")
        .select(col("lang"), col("n_docs"), r6(col("orig_share")).as("orig_share"),
          r6(col("temp_weight")).as("temp_weight"), col("target_n"),
          coalesce(col("n_sampled"), lit(0L)).as("n_sampled"))
        .orderBy("lang")
    },
    Some("""WITH counts AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang), tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total FROM counts), w AS (SELECT lang, n_docs, CAST(n_docs AS DOUBLE) / n_total AS orig_share, CAST(ROUND(sqrt(CAST(n_docs AS DOUBLE) / n_total) + 1e-9, 6) AS DECIMAL(18,6)) AS sp FROM counts CROSS JOIN tot), norm AS (SELECT SUM(sp) AS sp_tot FROM w), t AS (SELECT lang, n_docs, orig_share, CAST(sp AS DOUBLE) / CAST(sp_tot AS DOUBLE) AS temp_weight, CAST(ROUND(CAST(sp AS DOUBLE) / CAST(sp_tot AS DOUBLE) * 400 + 1e-9, 0) AS INT) AS target_n FROM w CROSS JOIN norm), ranked AS (SELECT doc_id, lang, CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 7)) AS BIGINT), doc_id) AS INT) AS rk FROM documents), sampled AS (SELECT r.lang, COUNT(*) AS n_sampled FROM ranked r JOIN t ON t.lang = r.lang WHERE r.rk <= t.target_n GROUP BY r.lang) SELECT t.lang, t.n_docs, ROUND(1e-9 + t.orig_share, 6) AS orig_share, ROUND(1e-9 + t.temp_weight, 6) AS temp_weight, t.target_n, COALESCE(s.n_sampled, 0) AS n_sampled FROM t LEFT JOIN sampled s ON s.lang = t.lang ORDER BY t.lang"""),
  )

  /** Balanced-class downsampling (r9c) — cap every language class at the
    * SMALLEST class's size, the classifier-training counterpart of
    * [[temperatureMixture]] (which reweights; this equalizes outright —
    * the standard prep for a language-ID or quality-classifier training
    * set whose majority class would otherwise drown the gradient).
    * Selection is md5-rank per class (the family's determinism rule: a
    * split must reproduce across runs AND engines, so never rand()),
    * doc_id the total tiebreak; the floor count is one broadcast scalar.
    * Scale shape: linear scan + per-class window (partitioned by class,
    * parallel across classes; a single giant class would use the
    * two-phase bounded-heap shape, as stratified documents).
    */
  private val balancedClasses = Op(
    "sample_balanced_classes",
    (s, sf) => {
      val docs = Tables.documents(s, sf)
      val floor = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
        .agg(min(col("n")).as("floor_n"))
      docs.select(col("doc_id"), col("lang"), hash28(col("doc_id")).as("hk"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("lang")).orderBy(col("hk"), col("doc_id"))).cast("int"))
        .crossJoin(broadcast(floor))
        .filter(col("rk") <= col("floor_n"))
        .select(col("doc_id"), col("lang"), col("rk"), col("floor_n"))
        .orderBy("doc_id")
    },
    Some("""WITH f AS (SELECT CAST(MIN(n) AS BIGINT) AS floor_n FROM (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang) c), ranked AS (SELECT doc_id, lang, CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 7)) AS BIGINT), doc_id) AS INT) AS rk FROM documents) SELECT doc_id, lang, rk, floor_n FROM ranked CROSS JOIN f WHERE rk <= floor_n ORDER BY doc_id"""),
  )

  /** Overlapping chunking (r10) — the RAG / context-window preprocessing
    * staple: every document split into 50-token windows at stride 40
    * (10-token overlap so no boundary-spanning span is lost), each chunk
    * fingerprinted. One narrow pass: split → explode the window starts →
    * slice — embarrassingly parallel, the chunk relation partitions
    * exactly like the scan. Chunks travel as (hash, bounds) not text:
    * at 100 TB the chunk TEXT never needs to move — the hash joins
    * against dedup/embedding stages and the bounds reconstruct the span
    * from the source page on demand.
    */
  private val chunkOverlap = Op(
    "pack_chunk_overlap",
    (s, sf) => {
      Tables.spread(s, Tables.documents(s, sf))
        .withColumn("toks", split(col("text"), " "))
        .withColumn("n_tok", size(col("toks")))
        .select(col("doc_id"), col("toks"), col("n_tok"),
          explode(expr("sequence(1, greatest(n_tok, 1), 40)")).as("start"))
        .select(col("doc_id"),
          expr("cast((start - 1) div 40 as int)").as("chunk_id"),
          col("start").cast("int").as("start_tok"),
          size(expr("slice(toks, start, 50)")).as("chunk_len"),
          md5(array_join(expr("slice(toks, start, 50)"), " ")).as("chunk_hash"))
        .orderBy("doc_id", "chunk_id")
    },
    Some("""SELECT doc_id, CAST((start - 1) // 40 AS INT) AS chunk_id, CAST(start AS INT) AS start_tok, CAST(len(list_slice(toks, start, start + 49)) AS INT) AS chunk_len, md5(array_to_string(list_slice(toks, start, start + 49), ' ')) AS chunk_hash FROM (SELECT doc_id, string_split(text, ' ') AS toks, len(string_split(text, ' ')) AS n_tok FROM documents) d, LATERAL (SELECT unnest(generate_series(1, GREATEST(n_tok, 1), 40)) AS start) g ORDER BY doc_id, chunk_id"""),
  )

  /** BALANCED TOKEN SHARDING — assign docs to 8 training shards
    * with near-equal token mass, the job that splits a curated corpus
    * into worker files: docs rank by token count (descending, doc_id
    * tiebreak) and take shards in SNAKE order (longest-processing-time
    * heuristic: row k of each 8-row wave reverses direction, so no
    * shard accumulates only heads or only tails). The global rank is
    * [[Tables.numbered]]: a deterministic total order with NO
    * single-partition window over the corpus. Output is the
    * 8-row shard audit: doc count, token mass, and each shard's ratio
    * to the mean mass (the imbalance number the job alerts on).
    */
  private val shardBalance = Op(
    "pack_shard_balance",
    (s, sf) => {
      import graft.ops.parity.r6
      val nShards = 8
      val sized = Tables.documents(s, sf)
        .select(col("doc_id"),
          expr("size(filter(split(text, ' '), w -> w != ''))").cast("long").as("n_tok"))
      val ranked = Tables.numbered(sized, "rk", 0L, col("n_tok").desc, col("doc_id"))
      val assigned = ranked
        .withColumn("wave", (col("rk") / nShards).cast("long"))
        .withColumn("pos", pmod(col("rk"), lit(nShards)))
        .withColumn("shard",
          when(pmod(col("wave"), lit(2)) === 0, col("pos"))
            .otherwise(lit(nShards - 1) - col("pos")).cast("int"))
      val shards = assigned.groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("total_tokens"))
      shards
        .withColumn("mean_mass",
          avg(col("total_tokens")).over(org.apache.spark.sql.expressions.Window.partitionBy()))
        .select(col("shard"), col("n_docs"), col("total_tokens"),
          r6(col("total_tokens") / col("mean_mass")).as("mass_ratio"))
        .orderBy("shard")
    },
    Some("""WITH sized AS (SELECT doc_id, CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS BIGINT) AS n_tok FROM documents), ranked AS (SELECT doc_id, n_tok, ROW_NUMBER() OVER (ORDER BY n_tok DESC, doc_id) - 1 AS rk FROM sized), assigned AS (SELECT n_tok, CASE WHEN (rk // 8) % 2 = 0 THEN rk % 8 ELSE 7 - rk % 8 END AS shard FROM ranked), shards AS (SELECT CAST(shard AS INT) AS shard, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS total_tokens FROM assigned GROUP BY 1) SELECT shard, n_docs, total_tokens, ROUND(1e-9 + total_tokens / AVG(total_tokens) OVER (), 6) AS mass_ratio FROM shards ORDER BY shard"""),
  )

  /** SPLIT-LEAKAGE audit (r11) — the check a training pipeline runs ON
    * ITS OWN SPLITTER: `sample_hash_split` buckets by doc_id, so two
    * docs with IDENTICAL content (different ids) can land in train AND
    * test — exact-content leakage that inflates eval. Entities are the
    * canonical content hashes (the dedup_exact canon); an entity whose
    * split set has size > 1 leaks. Per split: doc count, entity count,
    * and how many of its entities/docs are leaked. Distinct from
    * text_contamination_check (benchmark 8-gram overlap): this audits
    * the SPLIT, not the corpus. Two hash-aggs on the content key —
    * linear at any scale.
    */
  private val splitLeakage = Op(
    "sample_split_leakage",
    (s, sf) => {
      val docs = Tables.documents(s, sf)
        .select(col("doc_id"),
          md5(concat_ws(" ", sort_array(split(lower(col("text")), " ")))).as("canon_hash"))
        .withColumn("bucket", pmod(hash28(col("doc_id")), lit(100)))
        .withColumn("split",
          when(col("bucket") < 80, "train")
            .when(col("bucket") < 90, "val")
            .otherwise("test"))
      val entSplits = docs.groupBy("canon_hash")
        .agg(countDistinct(col("split")).as("ns"))
      docs.join(entSplits, "canon_hash")
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("canon_hash")).as("n_entities"),
          countDistinct(when(col("ns") > 1, col("canon_hash"))).as("n_leaked_entities"),
          sum((col("ns") > 1).cast("long")).as("n_leaked_docs"))
        .orderBy("split")
    },
    Some("""WITH docs AS (SELECT doc_id, md5(array_to_string(list_sort(string_split(lower(text), ' ')), ' ')) AS canon_hash, CASE WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 7)) AS BIGINT) % 100 < 80 THEN 'train' WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 7)) AS BIGINT) % 100 < 90 THEN 'val' ELSE 'test' END AS split FROM documents), ent AS (SELECT canon_hash, COUNT(DISTINCT split) AS ns FROM docs GROUP BY 1) SELECT split, COUNT(*) AS n_docs, COUNT(DISTINCT d.canon_hash) AS n_entities, COUNT(DISTINCT CASE WHEN ns > 1 THEN d.canon_hash END) AS n_leaked_entities, CAST(SUM(CASE WHEN ns > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_leaked_docs FROM docs d JOIN ent ON ent.canon_hash = d.canon_hash GROUP BY split ORDER BY split"""),
  )

  val ops: Seq[Op] = Seq(hashSplit, stratified, packSequences, columnProfile,
    curationPipeline, weightedHash, temperatureMixture, balancedClasses,
    chunkOverlap, shardBalance, splitLeakage)
}
