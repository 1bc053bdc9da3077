package graft.ops

import graft.{Op, OpGroup, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/** §2.A — scans / sources. Generalizes the reference's whole-entity reads
  * (cobradb/util.py :: load_tsv; cobradb/parse.py :: load_and_normalize;
  * GenBank ingest in cobradb/loading/component_loading.py): scan + project
  * is the base of every loader query, here expressed so Catalyst pushes the
  * projection into the parquet scan (ReadSchema shows only the kept cols).
  */
object Scans extends OpGroup {

  /** Column-pruned scan: the parquet reader materializes only 3 of 6 part
    * columns (verify via .explain: ReadSchema=struct<p_partkey,p_name,
    * p_retailprice>). At 100 TB this is the difference between reading the
    * whole table and a third of it.
    */
  private val scanProject = Op(
    "src_scan_project",
    (s, sf) =>
      Tables.part(s, sf)
        .select(col("p_partkey"), col("p_name"), col("p_retailprice"))
        .orderBy("p_partkey"),
    Some("""SELECT p_partkey, p_name, p_retailprice FROM part ORDER BY p_partkey"""),
  )

  /** JSON column decode (cobradb/loading/map_loading.py — EscherMap
    * `map_data` blob): extract a typed field from `events.props` and
    * aggregate it. get_json_object stays inside codegen; a full from_json
    * would build a struct we don't need.
    */
  private val jsonDecode = Op(
    "src_json_decode",
    (s, sf) =>
      Tables.events(s, sf)
        .select(
          col("event_type"),
          get_json_object(col("props"), "$.k").cast(IntegerType).as("k"),
        )
        .groupBy("event_type")
        .agg(
          sum(col("k")).cast("long").as("sum_k"),
          count(lit(1)).as("n"),
        )
        .orderBy("event_type"),
    Some("""SELECT event_type, CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k, COUNT(*) AS n FROM events GROUP BY event_type ORDER BY event_type"""),
  )

  /** CSV source path (the reference's TSV ingest — cobradb/util.py ::
    * load_tsv): snapshot the region table to CSV once (cached in /tmp,
    * deterministic content), read it back with an EXPLICIT schema — file
    * sources at scale never infer — and aggregate. The oracle reads the
    * same rows from the parquet table, proving the format round-trip.
    */
  private val csvScan = Op(
    "src_csv_scan",
    (s, sf) => {
      import org.apache.spark.sql.types._
      // Fingerprinted cache dir: a regenerated region.parquet invalidates
      // the CSV snapshot instead of silently re-reading the stale one.
      val dir = Tables.cachedDir(Tables.tmp("graft_csv"),
        sf.replaceAll("[^a-zA-Z0-9.]", "_"),
        graft.Tables.fingerprint(sf, "region")) + "/region"
      if (!new java.io.File(dir, "_SUCCESS").exists()) {
        Tables.region(s, sf).orderBy("r_regionkey")
          .coalesce(1).write.mode("overwrite").option("header", "true").csv(dir)
      }
      val schema = StructType(Seq(
        StructField("r_regionkey", IntegerType),
        StructField("r_name", StringType)))
      s.read.schema(schema).option("header", "true").csv(dir)
        .orderBy("r_regionkey")
    },
    Some("""SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"""),
  )

  /** Day-partitioned MULTI-FILE source witness (r3 verdict "what's
    * missing" #3): every driver fixture is one single-row-group parquet
    * file, so scans yield ONE partition and hot operators need
    * [[Tables.spread]]. This op writes events once as the PRODUCTION
    * layout — `event_date=…/` directory per day, 30 dirs at either sf,
    * fingerprint-cached like the bucketed tables — then runs a
    * date-range aggregate against it. The interior 7-day filter must
    * prune at the DIRECTORY level (PartitionFilters on the scan;
    * PushedFilters stays empty) and the scan parallelizes NATIVELY
    * across the per-day files — no spread anywhere on this path
    * (both plan-asserted in PartitionedScanSpec).
    */
  def partitionedEventsDir(s: org.apache.spark.sql.SparkSession, sf: String): String = {
    val dir = graft.Tables.cachedDir(
      Tables.tmp("graft_part_events"),
      sf.replaceAll("[^a-zA-Z0-9.]", "_"),
      graft.Tables.fingerprint(sf, "events")) + "/events"
    if (!new java.io.File(dir, "_SUCCESS").exists())
      Tables.events(s, sf)
        .withColumn("event_date", to_date(col("ts")))
        .write.mode("overwrite").partitionBy("event_date").parquet(dir)
    dir
  }

  private val partitionedMultifile = Op(
    "src_partitioned_multifile",
    (s, sf) => {
      val week = Tables.parquet(s, partitionedEventsDir(s, sf))
        .filter(col("event_date").between("2024-01-08", "2024-01-14"))
      week
        .groupBy(col("event_date"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          graft.ops.parity.r6(
            sum(graft.ops.parity.dec(col("value"))).cast("double")).as("sum_value"))
        .orderBy("event_date", "event_type")
    },
    Some("""SELECT CAST(ts AS DATE) AS event_date, event_type, COUNT(*) AS n, ROUND(1e-9 + CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_value FROM events WHERE CAST(ts AS DATE) BETWEEN '2024-01-08' AND '2024-01-14' GROUP BY 1, 2 ORDER BY event_date, event_type"""),
  )

  /** Hive-style partitioned parquet sink + partition-pruned read-back:
    * orders lands partitioned by o_orderpriority (directory per value —
    * the production layout for every date/category-keyed 100 TB table),
    * then the read filters one partition value and aggregates. The
    * filter must prune at the DIRECTORY level, never touching the other
    * partitions' files — the scan's PartitionFilters (asserted in
    * JoinsBucketSpec's plan checks) carry the predicate, PushedFilters
    * stays empty. Oracle = same filter+aggregate over the source table,
    * proving the round-trip lost nothing.
    */
  private val partitionedSink = Op(
    "sink_partitioned_parquet",
    (s, sf) => {
      val dir = graft.Tables.cachedDir(
        Tables.tmp("graft_part_sink"),
        sf.replaceAll("[^a-zA-Z0-9.]", "_"),
        graft.Tables.fingerprint(sf, "orders")) + "/orders"
      if (!new java.io.File(dir, "_SUCCESS").exists())
        Tables.orders(s, sf).write.mode("overwrite")
          .partitionBy("o_orderpriority").parquet(dir)
      Tables.parquet(s, dir)
        .filter(col("o_orderpriority") === "1-URGENT")
        .groupBy(col("o_orderstatus"))
        .agg(
          count(lit(1)).as("n"),
          graft.ops.parity.r6(
            sum(col("o_totalprice").cast(graft.ops.parity.Dec)).cast("double")).as("sum_price"),
        )
        .orderBy("o_orderstatus")
    },
    Some("""SELECT o_orderstatus, COUNT(*) AS n, ROUND(1e-9 + CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_price FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY o_orderstatus ORDER BY o_orderstatus"""),
  )

  /** ORC round-trip (r5): snapshot customer to ORC once
    * (fingerprint-cached), read it back via the native ORC source with a
    * pushed-down predicate, aggregate. Completes the columnar-format
    * family next to parquet/CSV/JSON — Spark's ORC reader is the same
    * DSv2 machinery (vectorized scan, predicate pushdown into ORC
    * row-group stats, column pruning), so the engine speaks the second
    * warehouse format with zero custom code. Oracle = identical
    * filter+aggregate over the parquet source, proving the round-trip
    * lost nothing.
    */
  private val orcRoundtrip = Op(
    "src_orc_roundtrip",
    (s, sf) => {
      val dir = graft.Tables.cachedDir(
        Tables.tmp("graft_orc"),
        sf.replaceAll("[^a-zA-Z0-9.]", "_"),
        graft.Tables.fingerprint(sf, "customer")) + "/customer"
      if (!new java.io.File(dir, "_SUCCESS").exists())
        Tables.customer(s, sf).write.mode("overwrite").orc(dir)
      s.read.orc(dir)
        .filter(col("c_acctbal") > 0)
        .groupBy(col("c_mktsegment"))
        .agg(
          count(lit(1)).as("n"),
          graft.ops.parity.r6(
            sum(col("c_acctbal").cast(graft.ops.parity.Dec)).cast("double")).as("sum_bal"),
        )
        .orderBy("c_mktsegment")
    },
    Some("""SELECT c_mktsegment, COUNT(*) AS n, ROUND(1e-9 + CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_bal FROM customer WHERE c_acctbal > 0 GROUP BY c_mktsegment ORDER BY c_mktsegment"""),
  )

  /** SMALL-FILE COMPACTION (r5) — the maintenance op every streaming or
    * per-day-partitioned 100 TB table needs: the day-partitioned events
    * layout (30 small files) is rewritten into max(1, ⌈bytes/64MB⌉)
    * right-sized files, sized from the SOURCE's actual byte count, not
    * a guessed constant. The read-back aggregate oracles against the
    * original table, proving compaction is content-neutral; file-count
    * arithmetic is asserted in PartitionedScanSpec's sibling check.
    */
  private val compactSmallFiles = Op(
    "etl_compact_small_files",
    (s, sf) => {
      val src = partitionedEventsDir(s, sf)
      val dir = graft.Tables.cachedDir(
        Tables.tmp("graft_compact"),
        sf.replaceAll("[^a-zA-Z0-9.]", "_"),
        graft.Tables.fingerprint(sf, "events")) + "/events"
      if (!new java.io.File(dir, "_SUCCESS").exists()) {
        val bytes = graft.Tables.dirBytes(new java.io.File(src))
        val target = math.max(1L, (bytes + (64L << 20) - 1) / (64L << 20)).toInt
        Tables.parquet(s, src).repartition(target).write.mode("overwrite").parquet(dir)
      }
      Tables.parquet(s, dir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          graft.ops.parity.r6(
            sum(graft.ops.parity.dec(col("value"))).cast("double")).as("sum_value"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type, COUNT(*) AS n, ROUND(1e-9 + CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_value FROM events GROUP BY event_type ORDER BY event_type"""),
  )

  /** DYNAMIC partition pruning witness (r5): src_partitioned_multifile
    * proves STATIC directory pruning (literal predicate); this op proves
    * the RUNTIME variant — the partition filter arrives through a JOIN
    * against a filtered dim, so the prunable set is only known at
    * execution, and Catalyst inserts a DynamicPruningExpression on the
    * fact scan (reusing the dim's broadcast — asserted in
    * PartitionedScanSpec). At 100 TB this is what keeps
    * fact ⋈ filtered-dim queries from scanning every date directory.
    */
  private[graft] def dppJoinPlan(s: org.apache.spark.sql.SparkSession, sf: String) = {
    val fact = Tables.parquet(s, partitionedEventsDir(s, sf))
    val dim = Tables.events(s, sf)
      .select(to_date(col("ts")).as("event_date")).distinct()
      .filter(weekofyear(col("event_date")) === 2)
    fact.join(dim, "event_date")
      .groupBy(col("event_date"))
      .agg(count(lit(1)).as("n"),
        graft.ops.parity.r6(
          sum(graft.ops.parity.dec(col("value"))).cast("double")).as("sum_value"))
      .orderBy("event_date")
  }

  private val dppRuntime = Op(
    "src_dynamic_partition_pruning",
    dppJoinPlan(_, _),
    Some("""WITH dim AS (SELECT DISTINCT CAST(ts AS DATE) AS event_date FROM events WHERE weekofyear(CAST(ts AS DATE)) = 2) SELECT e.event_date, COUNT(*) AS n, ROUND(1e-9 + CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_value FROM (SELECT CAST(ts AS DATE) AS event_date, value FROM events) e JOIN dim ON e.event_date = dim.event_date GROUP BY e.event_date ORDER BY e.event_date"""),
  )

  /** IDEMPOTENT partition backfill (r5): the day-partitioned copy gets
    * ONE day recomputed and overwritten in place with
    * partitionOverwriteMode=dynamic — the production backfill
    * primitive: the writer replaces exactly the partitions present in
    * the incoming frame, never truncating the table (static mode would
    * drop the other 29 days). The oracle checks the full table equals
    * the source afterwards — i.e. the backfill is content-neutral and
    * re-runnable; PartitionedScanSpec asserts untouched partitions keep
    * their files byte-identical.
    */
  def backfillDir(s: org.apache.spark.sql.SparkSession, sf: String): String = {
    val dir = graft.Tables.cachedDir(
      Tables.tmp("graft_backfill"),
      sf.replaceAll("[^a-zA-Z0-9.]", "_"),
      graft.Tables.fingerprint(sf, "events")) + "/events"
    if (!new java.io.File(dir, "_SUCCESS").exists())
      Tables.events(s, sf)
        .withColumn("event_date", to_date(col("ts")))
        .write.mode("overwrite").partitionBy("event_date").parquet(dir)
    dir
  }

  private val backfillIdempotent = Op(
    "etl_backfill_partition",
    (s, sf) => {
      val dir = backfillDir(s, sf)
      // Recompute one mid-range day from the source and land it with
      // dynamic overwrite: only event_date=2024-01-15 is replaced.
      Tables.events(s, sf)
        .withColumn("event_date", to_date(col("ts")))
        .filter(col("event_date") === "2024-01-15")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("event_date").parquet(dir)
      Tables.parquet(s, dir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          graft.ops.parity.r6(
            sum(graft.ops.parity.dec(col("value"))).cast("double")).as("sum_value"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type, COUNT(*) AS n, ROUND(1e-9 + CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_value FROM events GROUP BY event_type ORDER BY event_type"""),
  )

  /** SCHEMA EVOLUTION source (r5): two parquet generations of the same
    * table — v1 without a column that v2 added (`o_orderpriority`) —
    * read as one dataset with mergeSchema, the missing column NULL for
    * v1 rows. This is how every long-lived 100 TB table actually looks
    * (columns accrete over years of writers); the engine must scan the
    * union schema without rewriting history. Fixture: orders split by
    * orderkey parity into the two generations (fingerprint-cached).
    * mergeSchema is explicit — the production default leaves it off and
    * reads the footer of one file, silently dropping late columns.
    */
  private val schemaEvolution = Op(
    "src_schema_evolution",
    (s, sf) => {
      val dir = graft.Tables.cachedDir(
        Tables.tmp("graft_evolve"),
        sf.replaceAll("[^a-zA-Z0-9.]", "_"),
        graft.Tables.fingerprint(sf, "orders")) + "/orders"
      if (!new java.io.File(s"$dir/gen=1", "_SUCCESS").exists()) {
        val o = Tables.orders(s, sf)
        o.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          .write.mode("overwrite").parquet(s"$dir/gen=0")
        o.filter(col("o_orderkey") % 2 === 1)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
            col("o_orderpriority"))
          .write.mode("overwrite").parquet(s"$dir/gen=1")
      }
      s.read.option("mergeSchema", "true").parquet(dir)
        .groupBy(coalesce(col("o_orderpriority"), lit("<pre-schema>")).as("priority"))
        .agg(count(lit(1)).as("n"),
          graft.ops.parity.r6(
            sum(col("o_totalprice").cast(graft.ops.parity.Dec)).cast("double")).as("sum_price"))
        .orderBy("priority")
    },
    Some("""SELECT COALESCE(CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END, '<pre-schema>') AS priority, COUNT(*) AS n, ROUND(1e-9 + CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_price FROM orders GROUP BY 1 ORDER BY priority"""),
  )

  /** Z-ORDER layout rewrite (r6) — the lakehouse OPTIMIZE ZORDER shape:
    * events rewritten into files range-partitioned on the bit-interleave
    * of (user_id, day-number), so parquet min/max footer stats constrain
    * BOTH dimensions per file and either-dimension predicates prune —
    * a single-column sort gives perfect pruning on one dim and none on
    * the other. The z-value is pure bit arithmetic in one codegen'd HOF
    * (32 bit pairs — full id range), the layout is repartitionByRange +
    * in-partition
    * sort on z (one range shuffle — exactly what a real table OPTIMIZE
    * runs, sized to target file count), and the sort column is dropped
    * before write. Content neutrality is the oracled contract (same
    * per-type monthly aggregate as the source); the multi-dimensional
    * locality itself — per-file spans narrower than the global range on
    * BOTH dims — is asserted in PartitionedScanSpec. Cache keyed on the
    * source fingerprint, superseded generations vacuumed
    * ([[graft.Tables.cachedDir]]).
    */
  private val zorderLayout = Op(
    "etl_zorder_layout",
    (s, sf) => {
      val dir = graft.Tables.cachedDir(
        Tables.tmp("graft_zorder"),
        sf.replaceAll("[^a-zA-Z0-9.]", "_"),
        graft.Tables.fingerprint(sf, "events")) + "/events"
      if (!new java.io.File(dir, "_SUCCESS").exists()) {
        Tables.events(s, sf)
          .withColumn("day_nr",
            datediff(to_date(col("ts")), lit("2024-01-01").cast("date")).cast("long"))
          // 32 bit-pairs (not 16): interleaving only the low 16 bits would
          // alias every user_id ≥ 65536 onto the same z-bits and silently
          // lose the two-dimensional per-file locality at production id
          // ranges. day_nr is clamped at 0 (a pre-epoch backfill row would
          // otherwise sign-extend 1s into every odd position) and carries
          // bits 0..30 only, so the top odd position is 61 — bit 63 stays
          // clear and zval is always non-negative; user_id carries all 32
          // bits at even positions ≤ 62.
          .withColumn("zval", expr(
            """aggregate(sequence(0, 31), 0L, (acc, i) ->
               acc | (shiftleft(shiftright(user_id, i) & 1L, 2 * i))
                   | (CASE WHEN i < 31
                      THEN shiftleft(shiftright(greatest(day_nr, 0L), i) & 1L, 2 * i + 1)
                      ELSE 0L END))"""))
          .repartitionByRange(8, col("zval"))
          .sortWithinPartitions(col("zval"))
          .drop("zval", "day_nr")
          .write.mode("overwrite").parquet(dir)
      }
      Tables.parquet(s, dir)
        .groupBy(col("event_type"), date_trunc("month", col("ts")).cast("date").as("month"))
        .agg(count(lit(1)).as("n"),
          graft.ops.parity.r6(
            sum(graft.ops.parity.dec(col("value"))).cast("double")).as("sum_value"))
        .orderBy("event_type", "month")
    },
    Some("""SELECT event_type, CAST(date_trunc('month', ts) AS DATE) AS month, COUNT(*) AS n, ROUND(1e-9 + CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_value FROM events GROUP BY 1, 2 ORDER BY event_type, month"""),
  )

  /** Raw-TEXT source path (r9) — the fifth file format next to parquet /
    * CSV / JSON / ORC, and the one a RAW web-crawl / log corpus actually
    * arrives in (one record per line, no schema at all): snapshot the
    * documents' text one-per-line (fingerprint-cached like the CSV
    * snapshot; the corpus texts are newline-free, asserted at write
    * time), read it back through `spark.read.text`, and profile by
    * length bucket. The oracle runs the same profile over the original
    * parquet table — a content-neutral format round-trip, the
    * src_csv_scan methodology. `text` reads split by line across files
    * and within files at block boundaries, so this source parallelizes
    * natively at 100 TB.
    */
  private val textLines = Op(
    "src_text_lines",
    (s, sf) => {
      val dir = Tables.cachedDir(Tables.tmp("graft_text"),
        sf.replaceAll("[^a-zA-Z0-9.]", "_"),
        graft.Tables.fingerprint(sf, "documents")) + "/documents"
      if (!new java.io.File(dir, "_SUCCESS").exists()) {
        val src = Tables.documents(s, sf).select(col("text"))
        require(src.filter(col("text").contains("\n") || col("text").contains("\r"))
          .isEmpty, "text snapshot requires newline-free documents")
        src.coalesce(1).write.mode("overwrite").text(dir)
      }
      s.read.text(dir)
        .groupBy(expr("cast(length(value) as long) div 100 * 100").as("len_bucket"))
        .agg(count(lit(1)).as("n_lines"),
          sum(length(col("value")).cast("long")).as("total_chars"))
        .orderBy("len_bucket")
    },
    Some("""SELECT CAST(length(text) // 100 * 100 AS BIGINT) AS len_bucket, COUNT(*) AS n_lines, CAST(SUM(length(text)) AS BIGINT) AS total_chars FROM documents GROUP BY 1 ORDER BY len_bucket"""),
  )

  /** JSONL (newline-delimited JSON) source round-trip (r9) — the sixth
    * file format and THE interchange format LLM corpora actually ship in
    * (one JSON object per line): snapshot documents as JSONL via
    * to_json(struct(..)) (fingerprint-cached), read back through the
    * native `spark.read.json` source with an EXPLICIT schema (file
    * sources at scale never infer — inference is a full extra pass), and
    * profile per language, summing both the carried n_chars and the
    * re-measured length(text) so the oracle (the same profile over the
    * source parquet) proves the string payload survived JSON escaping
    * byte-for-byte. The line-oriented container splits across and
    * within files, so the source parallelizes natively at 100 TB.
    */
  private val jsonlRoundtrip = Op(
    "src_jsonl_roundtrip",
    (s, sf) => {
      import org.apache.spark.sql.types._
      val dir = Tables.cachedDir(Tables.tmp("graft_jsonl"),
        sf.replaceAll("[^a-zA-Z0-9.]", "_"),
        graft.Tables.fingerprint(sf, "documents")) + "/documents"
      if (!new java.io.File(dir, "_SUCCESS").exists()) {
        Tables.documents(s, sf)
          .select(to_json(struct(col("doc_id"), col("text"), col("lang"),
            col("source"), col("n_chars"))).as("value"))
          .coalesce(1).write.mode("overwrite").text(dir)
      }
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      s.read.schema(schema).json(dir)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("sum_n_chars"),
          sum(length(col("text")).cast("long")).as("sum_text_len"),
          countDistinct("doc_id").as("n_distinct_ids"))
        .orderBy("lang")
    },
    Some("""SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_n_chars, CAST(SUM(length(text)) AS BIGINT) AS sum_text_len, COUNT(DISTINCT doc_id) AS n_distinct_ids FROM documents GROUP BY lang ORDER BY lang"""),
  )

  /** PERMISSIVE-mode JSONL ingestion with corrupt-record quarantine
    * (r10e): the lake-edge reality [[jsonlRoundtrip]] idealizes away —
    * a feed where some lines are malformed. Every doc_id ≡ 0 (mod 17)
    * line is deterministically truncated at write time (half the JSON,
    * unparseable); the PERMISSIVE read routes those to
    * `_corrupt_record` instead of failing the batch (FAILFAST) or
    * silently dropping them (DROPMALFORMED), and the op emits the
    * per-lang survivor aggregate PLUS the quarantined count — the
    * ingest-with-audit contract. Oracle: the corruption rule is pure
    * doc_id arithmetic, so DuckDB reproduces both populations from the
    * clean table without reading the scratch file.
    */
  private val jsonlCorruptQuarantine = Op(
    "src_jsonl_corrupt_quarantine",
    (s, sf) => {
      import org.apache.spark.sql.types._
      val dir = Tables.cachedDir(Tables.tmp("graft_jsonl_bad"),
        sf.replaceAll("[^a-zA-Z0-9.]", "_"),
        graft.Tables.fingerprint(sf, "documents")) + "/documents"
      if (!new java.io.File(dir, "_SUCCESS").exists()) {
        Tables.documents(s, sf)
          .select(to_json(struct(col("doc_id"), col("text"), col("lang"),
            col("n_chars"))).as("j"), col("doc_id"))
          .select(when(pmod(col("doc_id"), lit(17)) === 0,
            substring(col("j"), 1, 20)).otherwise(col("j")).as("value"))
          .coalesce(1).write.mode("overwrite").text(dir)
      }
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("n_chars", LongType),
        StructField("_corrupt_record", StringType)))
      val read = s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(dir)
      // Spark disallows queries that effectively reference only the
      // corrupt-record column (QUERY_ONLY_CORRUPT_RECORD_COLUMN; the
      // documented workaround is cache()). Cache-free equivalent: the
      // 20-char truncation always cuts inside the text field, so with
      // PERMISSIVE partial results (3.4+ default) a corrupt line parses
      // doc_id but NEVER lang — and every clean line carries lang —
      // so lang IS NULL ⟺ quarantined, corrupt-column-reference-free.
      val flagged = read.select(col("doc_id"), col("lang"), col("n_chars"),
        col("lang").isNull.as("is_bad"))
      val good = flagged.filter(!col("is_bad"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_n_chars"))
      val bad = flagged.filter(col("is_bad"))
        .agg(count(lit(1)).as("n_quarantined"))
      good.crossJoin(broadcast(bad))
        .select(col("lang"), col("n_docs"), col("sum_n_chars").cast("long").as("sum_n_chars"),
          col("n_quarantined"))
        .orderBy("lang")
    },
    Some("""WITH good AS (SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_n_chars FROM documents WHERE doc_id % 17 <> 0 GROUP BY lang), bad AS (SELECT COUNT(*) AS n_quarantined FROM documents WHERE doc_id % 17 = 0) SELECT lang, n_docs, sum_n_chars, n_quarantined FROM good, bad ORDER BY lang"""),
  )

  /** Hidden `_metadata` file-source column (r10e): Spark exposes file
    * provenance (name, size, row position) on every file scan without
    * any schema change — the lineage hook an audit pipeline reads
    * instead of parsing paths. Emits rows-per-file with the basename;
    * the fixture is one file per table, so the oracle states the
    * expected (name, count) directly from the clean table.
    */
  private val fileMetadata = Op(
    "src_file_metadata",
    (s, sf) => {
      // The oracle hardcodes file_name = 'documents.parquet', which is
      // only true for the single-FILE fixture layout; a regenerated
      // fixture that writes a DIRECTORY of part files would surface as a
      // confusing hash mismatch. Fail fast with a contract error instead
      // (r10 advice) — the assertion, not the oracle, owns the layout.
      val f = new java.io.File(s"$sf/documents.parquet")
      require(f.isFile,
        s"src_file_metadata expects the single-file fixture layout; " +
          s"$sf/documents.parquet is a directory — update the oracle to " +
          "derive per-part names before re-enabling")
      Tables.parquet(s, s"$sf/documents.parquet")
        .select(expr("_metadata.file_name").as("file_name"))
        .groupBy("file_name")
        .agg(count(lit(1)).as("n_rows"))
        .orderBy("file_name")
    },
    Some("""SELECT 'documents.parquet' AS file_name, COUNT(*) AS n_rows FROM documents"""),
  )

  /** CSV malformed-row quarantine (r11) — the CSV sibling of
    * [[jsonlCorruptQuarantine]] (the two text formats corrupt
    * differently: JSON truncation breaks the PARSE, CSV truncation
    * breaks the COLUMN COUNT, and Spark's CSV PERMISSIVE mode handles
    * the latter through a different code path — missing trailing
    * columns become NULLs). Staged once per fingerprint: documents as
    * headerless CSV where every 13th row is cut after the second
    * field, so lang/n_chars never arrive. The audit is the same
    * survivors-aggregate + quarantined-count shape, and the corruption
    * rule is doc_id arithmetic the oracle reproduces from the clean
    * table. Quoting pins the parse: text fields are md5'd BEFORE
    * staging, so no delimiter/newline ambiguity can leak between
    * engines — this op witnesses the PERMISSIVE machinery, not quote
    * handling.
    */
  private val csvCorruptQuarantine = Op(
    "src_csv_corrupt_quarantine",
    (s, sf) => {
      import org.apache.spark.sql.types._
      val dir = Tables.cachedDir(Tables.tmp("graft_csv_bad"),
        sf.replaceAll("[^a-zA-Z0-9.]", "_"),
        graft.Tables.fingerprint(sf, "documents")) + "/documents"
      if (!new java.io.File(dir, "_SUCCESS").exists()) {
        // concat_ws silently DROPS null fields, which would shift the
        // rendered row and miscount it as quarantined (lang IS NULL
        // flag) instead of failing loudly — so a null lang/n_chars in
        // the fixture raises here, pinning the corruption count to the
        // deliberate doc_id % 13 rule and nothing else.
        Tables.documents(s, sf)
          .select(concat_ws(",", col("doc_id"), md5(col("text")),
            col("lang"), col("n_chars")).as("full"), col("doc_id"),
            concat_ws(",", col("doc_id"), md5(col("text"))).as("cut"),
            col("lang"), col("n_chars"))
          .select(when(col("lang").isNull || col("n_chars").isNull,
              raise_error(lit("src_csv_corrupt_quarantine: NULL lang/n_chars in documents — concat_ws staging would drop the field")))
            .when(pmod(col("doc_id"), lit(13)) === 0, col("cut"))
            .otherwise(col("full")).as("value"))
          .coalesce(1).write.mode("overwrite").text(dir)
      }
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text_md5", StringType),
        StructField("lang", StringType), StructField("n_chars", LongType)))
      val read = s.read.schema(schema)
        .option("mode", "PERMISSIVE").option("header", "false")
        .csv(dir)
      // A cut row parses doc_id + text_md5 and NULLs the missing tail —
      // lang IS NULL ⟺ quarantined, same flag convention as the JSONL op.
      val flagged = read.withColumn("is_bad", col("lang").isNull)
      val good = flagged.filter(!col("is_bad"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_n_chars"))
      val bad = flagged.filter(col("is_bad")).agg(count(lit(1)).as("n_quarantined"))
      good.crossJoin(broadcast(bad))
        .select(col("lang"), col("n_docs"), col("sum_n_chars").cast("long").as("sum_n_chars"),
          col("n_quarantined"))
        .orderBy("lang")
    },
    Some("""WITH good AS (SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_n_chars FROM documents WHERE doc_id % 13 <> 0 GROUP BY lang), bad AS (SELECT COUNT(*) AS n_quarantined FROM documents WHERE doc_id % 13 = 0) SELECT lang, n_docs, sum_n_chars, n_quarantined FROM good, bad ORDER BY lang"""),
  )

  val ops: Seq[Op] = Seq(scanProject, jsonDecode, csvScan,
    partitionedMultifile, partitionedSink, orcRoundtrip, compactSmallFiles,
    dppRuntime, backfillIdempotent, schemaEvolution, zorderLayout, textLines,
    jsonlRoundtrip, jsonlCorruptQuarantine, fileMetadata, csvCorruptQuarantine)
}
