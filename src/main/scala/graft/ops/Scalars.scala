package graft.ops

import graft.{Op, OpGroup, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import parity._

/** §2.H — scalar function library: string, date, math, JSON, array. The
  * cobradb ID-normalization pipeline (cobradb/parse.py ::
  * split_compartment, convert_ids; cobradb/util.py :: scrub_gene_id) and
  * its date/math/JSON field handling, all as codegen'd built-ins — no
  * UDFs anywhere in this file, so every expression stays inside
  * WholeStageCodegen and pushes through the optimizer.
  */
object Scalars extends OpGroup {

  /** The cobradb ID pipeline ported: lowercase → scrub non-identifier
    * chars to `_` → split a trailing compartment-style suffix
    * (`glc__D_c` → base `glc__D`, compartment `c`). Applied to p_name.
    * NOTE DuckDB regexp_replace replaces the first match unless the 'g'
    * flag is passed — Spark is global by default.
    */
  private val idNormalize = Op(
    "str_id_normalize",
    (s, sf) =>
      Tables.part(s, sf)
        .withColumn("norm_id", regexp_replace(lower(col("p_name")), "[^a-z0-9_]", "_"))
        .withColumn("base_id", regexp_extract(col("norm_id"), "^(.*)_([a-z][a-z0-9]?)$", 1))
        .withColumn("suffix", regexp_extract(col("norm_id"), "^(.*)_([a-z][a-z0-9]?)$", 2))
        .select(col("p_partkey"), col("norm_id"), col("base_id"), col("suffix"))
        .orderBy("p_partkey"),
    Some("""SELECT p_partkey, regexp_replace(lower(p_name), '[^a-z0-9_]', '_', 'g') AS norm_id, regexp_extract(regexp_replace(lower(p_name), '[^a-z0-9_]', '_', 'g'), '^(.*)_([a-z][a-z0-9]?)$', 1) AS base_id, regexp_extract(regexp_replace(lower(p_name), '[^a-z0-9_]', '_', 'g'), '^(.*)_([a-z][a-z0-9]?)$', 2) AS suffix FROM part ORDER BY p_partkey"""),
  )

  /** Whitespace tokenization + word frequency per language — split +
    * explode is Spark's built-in Generator path (no UDTF needed).
    */
  private val tokenizeWordcount = Op(
    "str_tokenize_wordcount",
    (s, sf) =>
      Tables.documents(s, sf)
        .select(col("lang"), explode(split(lower(col("text")), " ")).as("word"))
        .groupBy(col("lang"), col("word"))
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "word"),
    Some("""SELECT lang, word, COUNT(*) AS n FROM (SELECT lang, unnest(string_split(lower(text), ' ')) AS word FROM documents) t GROUP BY lang, word ORDER BY lang, word"""),
  )

  /** Date bucketing + component extraction + interval arithmetic.
    * Spark dayofweek is 1=Sunday..7; DuckDB dow is 0=Sunday..6 — the
    * oracle shifts by one. date_trunc on both sides (never Spark
    * window() vs DuckDB time_bucket — different origins).
    */
  private val dateExtractBucket = Op(
    "date_extract_bucket",
    (s, sf) =>
      Tables.events(s, sf)
        .select(
          date_trunc("hour", col("ts")).as("hour_bucket"),
          dayofweek(col("ts")).as("dow"),
          month(col("ts")).as("mon"),
          date_trunc("day", col("ts") + expr("INTERVAL 7 DAYS")).as("day_plus_7"),
          col("value"),
        )
        .groupBy("hour_bucket", "dow", "mon", "day_plus_7")
        .agg(count(lit(1)).as("n"), r6(sum(dec(col("value"))).cast("double")).as("sum_value"))
        .orderBy("hour_bucket"),
    Some("""SELECT date_trunc('hour', ts) AS hour_bucket, CAST(dayofweek(ts) + 1 AS INT) AS dow, CAST(month(ts) AS INT) AS mon, CAST(date_trunc('day', ts + INTERVAL 7 DAY) AS TIMESTAMP) AS day_plus_7, COUNT(*) AS n, ROUND(1e-9 + CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_value FROM events GROUP BY 1, 2, 3, 4 ORDER BY hour_bucket"""),
  )

  /** Arithmetic + rounding + clamping (reference: stoichiometry math and
    * lower/upper bound clamping in model_loading.py).
    */
  private val mathScalarExpr = Op(
    "math_scalar_expr",
    (s, sf) =>
      Tables.lineitem(s, sf)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          // 6-digit rounding, not 2: Spark's round() rounds the shortest
          // decimal repr (BigDecimal.valueOf) while DuckDB rounds the
          // exact binary — at 2 digits real ties like x.815 diverge.
          r6(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))).as("revenue"),
          least(greatest(col("l_quantity"), lit(5.0)), lit(45.0)).as("qty_clamped"),
          r6(abs(col("l_discount") - lit(0.05))).as("disc_dev"),
        )
        .orderBy("l_orderkey", "l_linenumber"),
    Some("""SELECT l_orderkey, l_linenumber, ROUND(1e-9 + l_extendedprice * (1 - l_discount) * (1 + l_tax), 6) AS revenue, LEAST(GREATEST(l_quantity, 5.0), 45.0) AS qty_clamped, ROUND(1e-9 + ABS(l_discount - 0.05), 6) AS disc_dev FROM lineitem ORDER BY l_orderkey, l_linenumber"""),
  )

  /** Typed JSON field extraction + numeric aggregation over it
    * (reference: EscherMap.map_data field access in map_loading.py).
    */
  private val jsonExtractTyped = Op(
    "json_extract_typed",
    (s, sf) =>
      Tables.events(s, sf)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast(IntegerType).as("k"))
        .filter(col("k") > 50)
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n_high"),
          r6(sum(col("k")).cast("double") / count(lit(1))).as("avg_k"),
        )
        .orderBy("event_type"),
    Some("""SELECT event_type, COUNT(*) AS n_high, ROUND(1e-9 + CAST(SUM(k) AS DOUBLE) / COUNT(*), 6) AS avg_k FROM (SELECT event_type, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k FROM events) t WHERE k > 50 GROUP BY event_type ORDER BY event_type"""),
  )

  /** Per-embedding L2 norm via higher-order functions only — the
    * vector surface without UDFs or MLlib. Elements are cast to double
    * BEFORE multiply on both engines so the sequential accumulation is
    * bit-identical.
    */
  private val arrayHofNorm = Op(
    "array_hof_norm",
    (s, sf) =>
      Tables.embeddings(s, sf)
        .select(
          col("vec_id"),
          size(col("embedding")).as("n_dims"),
          r6(sqrt(aggregate(
            transform(col("embedding"), x => x.cast("double") * x.cast("double")),
            lit(0.0),
            (acc, x) => acc + x))).as("l2_norm"),
        )
        .orderBy("vec_id"),
    Some("""SELECT vec_id, CAST(len(embedding) AS INT) AS n_dims, ROUND(1e-9 + sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm FROM embeddings ORDER BY vec_id"""),
  )

  /** Per-user map(event_type → count) — the dump_model per-reaction
    * dict assembly. The map is BUILT as a genuine MapType column
    * (map_from_entries proves the surface) but rendered as a sorted
    * `k:v` entries string at the output boundary: MapType output is not
    * canonical across engines and crashes pandas-based comparators
    * (unhashable list), per the §7.3 rulebook "no MapType in output".
    */
  private val mapEntriesBuild = Op(
    "map_entries_build",
    (s, sf) =>
      Tables.events(s, sf)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("user_id"))
        .agg(map_from_entries(
          sort_array(collect_list(struct(col("event_type"), col("n"))))).as("type_counts_map"))
        .select(
          col("user_id"),
          concat_ws(",",
            transform(map_entries(col("type_counts_map")),
              e => concat(e("key"), lit(":"), e("value")))).as("type_counts"),
          size(col("type_counts_map")).as("n_types"),
        )
        .orderBy("user_id"),
    Some("""SELECT user_id, STRING_AGG(event_type || ':' || n, ',' ORDER BY event_type) AS type_counts, CAST(COUNT(*) AS INT) AS n_types FROM (SELECT user_id, event_type, COUNT(*) AS n FROM events GROUP BY user_id, event_type) t GROUP BY user_id ORDER BY user_id"""),
  )

  /** Typed nested JSON decode via from_json(StructType) — the EscherMap
    * `map_data` blob analog (a *document*, not a single field): the whole
    * props column decodes once into a struct, fields are accessed
    * post-decode, and SCHEMA EVOLUTION is exercised by declaring a field
    * (`tag`) the data does not carry — from_json yields NULL for it, the
    * forward-compatible read a 100 TB corpus relies on when producers add
    * fields before readers. Contrast src_json_decode/json_extract_typed,
    * which pull single paths with get_json_object.
    */
  private val jsonStructDecode = Op(
    "json_struct_decode",
    (s, sf) => {
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", IntegerType),
        org.apache.spark.sql.types.StructField("tag", org.apache.spark.sql.types.StringType)))
      Tables.events(s, sf)
        .withColumn("p", from_json(col("props"), schema))
        .select(
          col("event_id"),
          col("p.k").as("k"),
          col("p.tag").as("tag"),
          floor(col("p.k") / 10).cast("int").as("k_bucket"),
          col("p.k").isNull.as("k_missing"),
        )
        .orderBy("event_id")
    },
    Some("""SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k, json_extract_string(props, '$.tag') AS tag, CAST(floor(CAST(json_extract_string(props, '$.k') AS INTEGER) / 10) AS INT) AS k_bucket, json_extract_string(props, '$.k') IS NULL AS k_missing FROM events ORDER BY event_id"""),
  )

  /** §2.T (r13, r12 verdict #3) — the Spark 4 VARIANT surface: the
    * semi-structured path a JSON-heavy 100 TB corpus actually uses at
    * scale. `parse_json` decodes `events.props` ONCE into the binary
    * variant encoding (shredded, no per-access re-parse — the whole
    * point of VARIANT over repeated get_json_object), then typed
    * `variant_get` extraction (present field, absent field → NULL — the
    * forward-compatible read), canonical `to_json` round-trip, and an
    * aggregate over the extracted value. Oracle: DuckDB's JSON duals
    * (json_extract_string + json() canonicalization — both engines
    * print minified JSON).
    */
  private val jsonVariantDecode = Op(
    "json_variant_decode",
    (s, sf) =>
      Tables.events(s, sf)
        .withColumn("v", parse_json(col("props")))
        .select(
          col("event_id"),
          col("event_type"),
          expr("variant_get(v, '$.k', 'int')").as("k"),
          expr("variant_get(v, '$.tag', 'string')").as("tag"),
          expr("to_json(v)").as("props_canonical"),
        )
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          sum(col("k").cast("long")).as("sum_k"),
          count(col("tag")).as("n_tagged"),
          min(length(col("props_canonical"))).as("min_canon_len"),
        )
        .orderBy("event_type"),
    Some("""SELECT event_type, COUNT(*) AS n, CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k, COUNT(json_extract_string(props, '$.tag')) AS n_tagged, MIN(length(CAST(json(props) AS VARCHAR))) AS min_canon_len FROM events GROUP BY event_type ORDER BY event_type"""),
  )

  /** Fingerprint-keyed home of the persisted variant-column table
    * (r14): a regenerated events fixture invalidates the artifact.
    */
  private[graft] def variantDir(s: org.apache.spark.sql.SparkSession, sf: String): String =
    Tables.artifactDir("graft_variant_rt", sf, "events")

  /** VARIANT WRITE ROUND-TRIP (r14, the r13 verdict's item 7) — the
    * other half of the Spark 4 semi-structured story:
    * `json_variant_decode` covers parse + typed read; this key WRITES a
    * VariantType column to parquet (Spark 4.1's variant storage — the
    * binary metadata/value pair persisted as the parquet variant
    * logical type), reads the table back in a separate scan, and runs
    * the same typed `variant_get` extraction + aggregate over the
    * RELOADED variant values. If the storage layer dropped, re-encoded,
    * or truncated anything, the aggregate diverges from the DuckDB JSON
    * dual computed from the raw strings — so the round-trip itself is
    * under the hash gate. VariantRoundtripSpec additionally pins that
    * the persisted physical schema really is VariantType (not a string
    * fallback) and that the reloaded aggregate equals the decode key's.
    */
  private val jsonVariantRoundtrip = Op(
    "json_variant_roundtrip",
    (s, sf) => {
      // The artifact is the fingerprinted dir itself: commit it by name
      // in its kind's root.
      val home = new java.io.File(variantDir(s, sf))
      val dir = Tables.commitStaged(home.getParent, home.getName) {
        Tables.events(s, sf)
          .select(col("event_id"), col("event_type"),
            parse_json(col("props")).as("v"))
          .write.parquet(_)
      }
      Tables.parquet(s, dir)
        .select(
          col("event_type"),
          expr("variant_get(v, '$.k', 'int')").as("k"),
          expr("variant_get(v, '$.tag', 'string')").as("tag"),
          expr("to_json(v)").as("props_canonical"),
        )
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          sum(col("k").cast("long")).as("sum_k"),
          count(col("tag")).as("n_tagged"),
          min(length(col("props_canonical"))).as("min_canon_len"),
        )
        .orderBy("event_type")
    },
    Some("""SELECT event_type, COUNT(*) AS n, CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k, COUNT(json_extract_string(props, '$.tag')) AS n_tagged, MIN(length(CAST(json(props) AS VARCHAR))) AS min_canon_len FROM events GROUP BY event_type ORDER BY event_type"""),
  )

  /** String-function breadth: translate, lpad, reverse, levenshtein —
    * the remaining scalar string surface (edit distance is also the
    * primitive behind fuzzy synonym matching in the reference's Synonym
    * lookups).
    */
  private val strFunctions = Op(
    "str_functions_breadth",
    (s, sf) =>
      Tables.part(s, sf)
        .select(
          col("p_partkey"),
          translate(col("p_type"), " ", "_").as("type_snake"),
          lpad(col("p_size").cast("string"), 3, "0").as("size_padded"),
          reverse(col("p_name")).as("name_rev"),
          levenshtein(col("p_brand"), lit("Brand#11")).as("brand_dist"),
        )
        .orderBy("p_partkey"),
    Some("""SELECT p_partkey, translate(p_type, ' ', '_') AS type_snake, lpad(CAST(p_size AS VARCHAR), 3, '0') AS size_padded, reverse(p_name) AS name_rev, CAST(levenshtein(p_brand, 'Brand#11') AS INT) AS brand_dist FROM part ORDER BY p_partkey"""),
  )

  /** Date-function breadth: month arithmetic with end-of-month clamping
    * (both engines clamp Jan 31 + 1 month to Feb 28/29), last_day,
    * day-diff, quarter. Spark's add_months/last_day return DATE — cast
    * back to timestamp for oracle parity.
    */
  private val dateFunctions = Op(
    "date_functions_breadth",
    (s, sf) =>
      Tables.orders(s, sf)
        .select(
          col("o_orderkey"),
          add_months(col("o_orderdate"), 3).cast("timestamp").as("plus_3mo"),
          last_day(col("o_orderdate")).cast("timestamp").as("month_end"),
          datediff(col("o_orderdate"), lit("1995-01-01").cast("timestamp")).as("days_since_epoch_start"),
          quarter(col("o_orderdate")).as("qtr"),
        )
        .orderBy("o_orderkey"),
    Some("""SELECT o_orderkey, o_orderdate + INTERVAL 3 MONTH AS plus_3mo, CAST(last_day(o_orderdate) AS TIMESTAMP) AS month_end, CAST(date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS INT) AS days_since_epoch_start, CAST(quarter(o_orderdate) AS INT) AS qtr FROM orders ORDER BY o_orderkey"""),
  )

  /** ANSI-safe try_* arithmetic (r10e): `try_divide` / `try_cast` — the
    * error-as-NULL contract that keeps a malformed row from failing a
    * 100 TB batch job under ANSI mode (and degrades to plain NULL
    * semantics without it; either way the FUNCTIONS are the pinned
    * surface). Division hits a genuine zero (quantity = 25 zeroes the
    * shifted divisor), the cast a genuinely non-numeric string; the
    * aggregate reports survivors and nulls per flag. The cast depends
    * only on the grouping key, so it runs after the aggregate, once per
    * group: every row's cast fails on the letter flags, and a failing
    * `try_cast` per row cost most of the op's scan task (about 0.8 s of
    * 1.25 s at sf0.01). Oracle: DuckDB spells the same semantics as
    * CASE + TRY_CAST.
    */
  private val tryArithmetic = Op(
    "math_try_safe",
    (s, sf) =>
      Tables.lineitem(s, sf)
        .select(col("l_returnflag"),
          expr("try_divide(CAST(l_extendedprice AS DECIMAL(18,6)), l_quantity - 25)").as("q"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("q").isNull, 1L).otherwise(0L)).as("n_div_null"),
          r6(sum(dec(r6(col("q").cast("double"))))
            .cast("double")).as("sum_safe_quotient"))
        .withColumn("n_cast_null",
          expr("CASE WHEN try_cast(l_returnflag AS INT) IS NULL THEN n_rows ELSE 0L END"))
        .orderBy("l_returnflag"),
    Some("""SELECT l_returnflag, COUNT(*) AS n_rows, CAST(SUM(CASE WHEN l_quantity - 25 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_div_null, ROUND(1e-9 + CAST(SUM(CAST(ROUND(1e-9 + CAST(CASE WHEN l_quantity - 25 = 0 THEN NULL ELSE CAST(l_extendedprice AS DECIMAL(18,6)) / (l_quantity - 25) END AS DOUBLE), 6) AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_safe_quotient, CAST(SUM(CASE WHEN TRY_CAST(l_returnflag AS INT) IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_cast_null FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
  )

  /** Regex function suite (r10e): regexp_count / regexp_instr /
    * regexp_substr / capture-group regexp_replace over the structured
    * customer name — the extraction quartet an ID-normalization pass
    * leans on beyond [[idNormalize]]'s anchored rewrite. Portability
    * notes pinned here: Spark's regexp_replace rewrites ALL occurrences
    * while DuckDB's rewrites the FIRST (names carry exactly one
    * pattern instance, so the duals agree), and the instr dual is
    * strpos-of-first-extract (sound because an identical earlier
    * substring would itself be the first match).
    */
  private val regexSuite = Op(
    "str_regex_suite",
    (s, sf) =>
      Tables.customer(s, sf)
        .select(col("c_custkey"),
          expr("regexp_count(c_name, '[0-9]+')").cast("int").as("n_digit_runs"),
          expr("regexp_instr(c_name, '[0-9]+')").cast("int").as("first_digit_pos"),
          expr("regexp_substr(c_name, '[0-9]+')").as("first_run"),
          expr("regexp_replace(c_name, '([A-Za-z]+)#([0-9]+)', '$2#$1')").as("swapped"))
        .orderBy("c_custkey"),
    Some("""SELECT c_custkey, CAST(len(regexp_extract_all(c_name, '[0-9]+')) AS INT) AS n_digit_runs, CAST(strpos(c_name, regexp_extract(c_name, '[0-9]+')) AS INT) AS first_digit_pos, regexp_extract(c_name, '[0-9]+') AS first_run, regexp_replace(c_name, '([A-Za-z]+)#([0-9]+)', '\2#\1') AS swapped FROM customer ORDER BY c_custkey"""),
  )

  /** BUSINESS-DAY arithmetic (r11) — the shipping-SLA audit: weekdays
    * elapsed from order date to each line's ship date, summarized per
    * order priority. Engines disagree on day-of-week NUMBERING (Spark
    * 1=Sun..7=Sat, DuckDB 0=Sun..6=Sat), so the op never touches a
    * dow function: W(d) = weekdays from the Monday epoch (1970-01-05)
    * through d = 5·(m div 7) + least(m mod 7 + 1, 5) with
    * m = datediff(d, epoch) — pure integer arithmetic, identical in
    * any engine; business days in (d1, d2] = W(d2) − W(d1). The
    * closed form is the 100 TB answer (the per-row calendar-sequence
    * explode the naive version runs is rows × days).
    */
  private val businessDays = Op(
    "date_business_days",
    (s, sf) => {
      import graft.ops.parity.{dec, r6}
      def wdays(d: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
        val m = datediff(d, to_date(lit("1970-01-05")))
        // floor + pmod (not truncate + sign-following %) so the closed
        // form is engine-identical for pre-epoch dates too — the oracle
        // mirrors with an EXPLICIT floor(x / 7.0) (DuckDB's // is
        // integer division truncating toward zero: -8 // 7 = -1, not
        // floor's -2 — r12 ADVICE) and ((m % 7) + 7) % 7.
        lit(5) * floor(m.cast("double") / 7).cast("long") + least(pmod(m, lit(7)) + 1, lit(5))
      }
      Tables.lineitem(s, sf)
        .join(Tables.orders(s, sf), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority"),
          (wdays(to_date(col("l_shipdate"))) - wdays(to_date(col("o_orderdate"))))
            .as("bdays"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_lines"),
          r6(sum(dec(col("bdays"))).cast("double") / count(lit(1))).as("avg_business_days"),
          max(col("bdays")).as("max_business_days"),
          min(col("bdays")).as("min_business_days"))
        .orderBy("o_orderpriority")
    },
    Some("""WITH x AS (SELECT o_orderpriority, (5 * CAST(floor(date_diff('day', DATE '1970-01-05', CAST(l_shipdate AS DATE)) / 7.0) AS BIGINT) + LEAST(((date_diff('day', DATE '1970-01-05', CAST(l_shipdate AS DATE)) % 7) + 7) % 7 + 1, 5)) - (5 * CAST(floor(date_diff('day', DATE '1970-01-05', CAST(o_orderdate AS DATE)) / 7.0) AS BIGINT) + LEAST(((date_diff('day', DATE '1970-01-05', CAST(o_orderdate AS DATE)) % 7) + 7) % 7 + 1, 5)) AS bdays FROM lineitem JOIN orders ON l_orderkey = o_orderkey) SELECT o_orderpriority, COUNT(*) AS n_lines, ROUND(1e-9 + CAST(SUM(CAST(bdays AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS avg_business_days, CAST(MAX(bdays) AS BIGINT) AS max_business_days, CAST(MIN(bdays) AS BIGINT) AS min_business_days FROM x GROUP BY 1 ORDER BY o_orderpriority"""),
  )

  val ops: Seq[Op] = Seq(idNormalize, tokenizeWordcount, dateExtractBucket,
    mathScalarExpr, jsonExtractTyped, jsonStructDecode, jsonVariantDecode,
    jsonVariantRoundtrip, arrayHofNorm,
    mapEntriesBuild, strFunctions, dateFunctions, tryArithmetic, regexSuite,
    businessDays)
}
