package graft.ops

import graft.{Op, OpGroup, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's WRITE path as one composite dataflow
  * (bin/load_db.py → parse.py normalize → model_loading.py dedup →
  * SQLAlchemy get_or_create id assignment), re-expressed batch-first:
  * stage raw entities → canonicalize → content-hash dedup with
  * preference-ordered winners → assign DENSE surrogate ids
  * deterministically. This is SURVEY §1.3's "dedup-by-natural-key
  * replaces upsert": instead of one SELECT-then-INSERT round-trip per
  * row (the reference's scalability ceiling), the whole load is three
  * shuffles regardless of corpus size.
  */
object EtlLoad extends OpGroup {

  /** Load `documents` as if it were an entity batch: the canonical hash
    * is the natural key (permutation-invariant, = hash_reaction), the
    * winner is the smallest doc_id (preference order), and surrogate
    * entity ids are the global rank in hash order — deterministic and
    * dense, the batch analog of a sequence column — assigned WITHOUT a
    * single-partition window ([[Tables.numbered]]). Every stage stays
    * parallel at 100 TB.
    */
  private val dedupLoad = Op(
    "etl_dedup_load",
    (s, sf) => {
      val staged = Tables.documents(s, sf)
        .withColumn("canon_hash",
          md5(concat_ws(" ", sort_array(split(lower(col("text")), " ")))))
      val entities = staged
        .groupBy(col("canon_hash"))
        .agg(
          min(col("doc_id")).as("canonical_doc_id"),
          count(lit(1)).as("n_members"),
        )
      val withIds = Tables.numbered(entities, "entity_id", 1L, col("canon_hash"))
      // Attach the winner's attributes (the "loaded" entity row).
      withIds.join(
          staged.select(col("doc_id").as("canonical_doc_id"), col("lang"), col("source")),
          "canonical_doc_id")
        .select(col("entity_id"), col("canon_hash"), col("canonical_doc_id"),
          col("n_members"), col("lang"), col("source"))
        .orderBy("entity_id")
    },
    Some("""WITH staged AS (SELECT doc_id, lang, source, md5(array_to_string(list_sort(string_split(lower(text), ' ')), ' ')) AS canon_hash FROM documents), entities AS (SELECT canon_hash, MIN(doc_id) AS canonical_doc_id, COUNT(*) AS n_members FROM staged GROUP BY canon_hash), with_ids AS (SELECT canon_hash, canonical_doc_id, n_members, CAST(ROW_NUMBER() OVER (ORDER BY canon_hash) AS BIGINT) AS entity_id FROM entities) SELECT entity_id, w.canon_hash AS canon_hash, w.canonical_doc_id AS canonical_doc_id, n_members, lang, source FROM with_ids w JOIN staged s ON w.canonical_doc_id = s.doc_id ORDER BY entity_id"""),
  )

  /** Incremental (repeated-load) upsert — the reference's actual
    * `bin/load_db.py` flow on a second run: a NEW batch arrives against
    * an EXISTING catalog, and only content whose canonical hash is
    * unseen becomes a new entity; re-loaded content resolves to the
    * existing row (get_or_create's insert-if-missing, as one anti-join
    * instead of a SELECT-then-INSERT round-trip per row). The corpus is
    * split deterministically (even doc_ids = existing catalog, odd =
    * incoming batch); output is the post-merge catalog with each
    * entity's origin. At 100 TB both sides hash-shuffle once on the
    * content key — the merge cost is one join regardless of history
    * size.
    */
  private val incrementalMerge = Op(
    "etl_incremental_merge",
    (s, sf) => {
      val staged = Tables.documents(s, sf)
        .withColumn("canon_hash",
          md5(concat_ws(" ", sort_array(split(lower(col("text")), " ")))))
      def entities(df: org.apache.spark.sql.DataFrame) =
        df.groupBy(col("canon_hash"))
          .agg(min(col("doc_id")).as("canonical_doc_id"), count(lit(1)).as("n_members"))
      val catalog = entities(staged.filter(pmod(col("doc_id"), lit(2)) === 0))
      val batch = entities(staged.filter(pmod(col("doc_id"), lit(2)) === 1))
      val fresh = batch.join(catalog.select("canon_hash"), Seq("canon_hash"), "left_anti")
      catalog.withColumn("origin", lit("existing"))
        .unionByName(fresh.withColumn("origin", lit("new")))
        .orderBy("canon_hash")
    },
    Some("""WITH staged AS (SELECT doc_id, md5(array_to_string(list_sort(string_split(lower(text), ' ')), ' ')) AS canon_hash FROM documents), catalog AS (SELECT canon_hash, MIN(doc_id) AS canonical_doc_id, COUNT(*) AS n_members FROM staged WHERE doc_id % 2 = 0 GROUP BY canon_hash), batch AS (SELECT canon_hash, MIN(doc_id) AS canonical_doc_id, COUNT(*) AS n_members FROM staged WHERE doc_id % 2 = 1 GROUP BY canon_hash) SELECT canon_hash, canonical_doc_id, n_members, 'existing' AS origin FROM catalog UNION ALL SELECT canon_hash, canonical_doc_id, n_members, 'new' AS origin FROM batch b WHERE NOT EXISTS (SELECT 1 FROM catalog c WHERE c.canon_hash = b.canon_hash) ORDER BY canon_hash"""),
  )

  /** SCD2 (type-2 slowly-changing dimension) history build — the
    * DatabaseVersion/OldIDSynonym "which value was current when"
    * semantic as the standard warehouse pattern: per user, keep only
    * STATE CHANGES (consecutive-duplicate suppression via lag), then
    * close each change's validity interval with the next change's
    * timestamp (lead) — open interval + is_current for the latest. Two
    * window passes over one shuffle key: linear, partition-parallel on
    * user_id at any scale.
    */
  private val scd2Build = Op(
    "etl_scd2_intervals",
    (s, sf) => {
      import org.apache.spark.sql.expressions.Window
      val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val changes = Tables.events(s, sf)
        .withColumn("prev_state", lag(col("event_type"), 1).over(wOrd))
        .filter(col("prev_state").isNull || col("prev_state") =!= col("event_type"))
        .select(col("user_id"), col("event_type").as("state"), col("ts"), col("event_id"))
      val wChg = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      changes
        .withColumn("valid_to", lead(col("ts"), 1).over(wChg))
        .select(col("user_id"), col("state"), col("ts").as("valid_from"),
          col("valid_to"), col("valid_to").isNull.as("is_current"))
        // valid_to disambiguates A→B→A flips at one identical timestamp:
        // (user_id, valid_from, state) alone is not a unique key there,
        // and the driver compares rows positionally (r3 advice). NULLS
        // LAST explicitly — Spark's asc default is nulls FIRST, DuckDB's
        // is nulls LAST.
        .orderBy(col("user_id"), col("valid_from"), col("state"),
          col("valid_to").asc_nulls_last)
    },
    Some("""WITH ch AS (SELECT user_id, event_type AS state, ts, event_id FROM (SELECT user_id, event_type, ts, event_id, LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events) t WHERE prev IS NULL OR prev <> event_type) SELECT user_id, state, ts AS valid_from, LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to, LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current FROM ch ORDER BY user_id, valid_from, state, valid_to NULLS LAST"""),
  )

  /** SCD2 POINT-IN-TIME LOOKUP (r6) — the consume side of
    * etl_scd2_intervals: each fact row joins the dimension VERSION valid
    * at its event time (valid_from ≤ ts < valid_to, open tail), the
    * late-arriving-fact / as-was reporting shape every warehouse needs
    * next to the as-of join. Dimension history = each user's non-purchase
    * state changes (lag-filtered, lead-closed intervals); facts = the
    * purchase events — disjoint subsets of one source, so the lookup is
    * genuine. The intervals construction guarantees at most one match
    * per (user, ts) (zero-width [t,t) versions can't match), so the
    * left join preserves fact cardinality exactly; pre-state purchases
    * keep NULL state. Plan: equi-join on user_id with the interval
    * predicate as residual — hash-co-partitioned on the entity key at
    * 100 TB, with per-user version chains small by construction.
    */
  /** The lookup factored over any events-shaped relation so the
    * same-timestamp / zero-width-interval edge cases are testable on
    * synthetic data (Scd2Spec) beyond the fixture oracle.
    */
  private[graft] def scd2PointInTimeFrom(ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val dim = ev
        .filter(col("event_type") =!= "purchase")
        .withColumn("prev_state", lag(col("event_type"), 1).over(wOrd))
        .filter(col("prev_state").isNull || col("prev_state") =!= col("event_type"))
        .withColumn("valid_to", lead(col("ts"), 1).over(wOrd))
        .select(col("user_id"), col("event_type").as("state"),
          col("ts").as("valid_from"), col("valid_to"))
      val facts = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id").as("f_user"), col("ts"))
      facts.join(dim,
          col("f_user") === col("user_id") &&
            col("ts") >= col("valid_from") &&
            (col("valid_to").isNull || col("ts") < col("valid_to")), "left")
        .select(col("event_id"), col("f_user").as("user_id"), col("ts"),
          col("state"), col("valid_from"),
          (col("state").isNotNull && col("valid_to").isNull).as("is_current_version"))
        .orderBy("event_id")
  }

  private val scd2PointInTime = Op(
    "join_scd2_pointintime",
    (s, sf) => scd2PointInTimeFrom(Tables.events(s, sf)),
    Some("""WITH dim AS (SELECT user_id, state, ts AS valid_from, LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to FROM (SELECT user_id, event_type AS state, ts, event_id, LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events WHERE event_type <> 'purchase') t WHERE prev IS NULL OR prev <> state), f AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') SELECT f.event_id, f.user_id, f.ts, d.state, d.valid_from, d.state IS NOT NULL AND d.valid_to IS NULL AS is_current_version FROM f LEFT JOIN dim d ON d.user_id = f.user_id AND f.ts >= d.valid_from AND (d.valid_to IS NULL OR f.ts < d.valid_to) ORDER BY f.event_id"""),
  )

  /** DATA-QUALITY gate (r5) — the load-time validation the reference
    * runs row-by-row in its loaders (parse.py invariant checks, FK
    * lookups via get_or_create), re-expressed as set-level rules that
    * each compile to one scan/anti-join: range rules on lineitem,
    * positivity on orders, FK orphan check lineitem→orders, and
    * natural-key uniqueness of (l_orderkey, l_linenumber). Emits the
    * violation count + pass flag per rule — the contract table a 100 TB
    * pipeline gates promotion on. ALL lineitem rules compile into ONE
    * pass (r15, the r14 verdict's item 7 — the r5 shape still scanned
    * lineitem three times: range agg, FK anti-join, dup-key groupBy):
    * the FK check folds into a left join whose null-mark aggregates
    * alongside the range partials at the natural-key grain, and the
    * grain rollup yields the dup count — orders is joined on its unique
    * key so no row multiplies, and the post-join groupBy reuses the
    * join's hash partitioning (l_orderkey ⊆ the grouping key, so
    * EnsureRequirements inserts no second exchange).
    */
  private val dqChecks = Op(
    "etl_dq_checks",
    (s, sf) => {
      val li = Tables.lineitem(s, sf).select(
        col("l_orderkey"), col("l_linenumber"),
        when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L).otherwise(0L).as("qv"),
        when(col("l_discount") < 0 || col("l_discount") > 1, 1L).otherwise(0L).as("dv"))
      val liAgg = li
        .join(Tables.orders(s, sf).select(col("o_orderkey"), lit(1).as("fk_ok")),
          col("l_orderkey") === col("o_orderkey"), "left")
        .groupBy(col("l_orderkey"), col("l_linenumber"))
        .agg(count(lit(1)).as("n"), sum(col("qv")).as("qv"), sum(col("dv")).as("dv"),
          sum(when(col("fk_ok").isNull, 1L).otherwise(0L)).as("fkv"))
        .agg(sum(col("qv")).as("v1"), sum(col("dv")).as("v2"),
          sum(col("fkv")).as("v3"),
          sum(when(col("n") > 1, 1L).otherwise(0L)).as("v5"))
      val ordAgg = Tables.orders(s, sf)
        .agg(sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)).as("v4"))
      def rule(id: String, table: String, n: org.apache.spark.sql.Column) =
        Seq(lit(id).as("rule_id"), lit(table).as("table_name"), n.as("n_violations"))
      liAgg.crossJoin(ordAgg)
        .select(array(
          struct(rule("quantity_range", "lineitem", col("v1")): _*),
          struct(rule("discount_range", "lineitem", col("v2")): _*),
          struct(rule("fk_orders", "lineitem", col("v3")): _*),
          struct(rule("price_positive", "orders", col("v4")): _*),
          struct(rule("key_unique", "lineitem", col("v5")): _*)).as("rules"))
        .select(explode(col("rules")).as("r"))
        .select(col("r.rule_id"), col("r.table_name"), col("r.n_violations"),
          (col("r.n_violations") === 0).as("pass"))
        .orderBy("rule_id")
    },
    Some("""SELECT * FROM (SELECT 'quantity_range' AS rule_id, 'lineitem' AS table_name, COUNT(*) FILTER (l_quantity < 1 OR l_quantity > 50) AS n_violations, COUNT(*) FILTER (l_quantity < 1 OR l_quantity > 50) = 0 AS pass FROM lineitem UNION ALL SELECT 'discount_range', 'lineitem', COUNT(*) FILTER (l_discount < 0 OR l_discount > 1), COUNT(*) FILTER (l_discount < 0 OR l_discount > 1) = 0 FROM lineitem UNION ALL SELECT 'fk_orders', 'lineitem', COUNT(*), COUNT(*) = 0 FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders) UNION ALL SELECT 'price_positive', 'orders', COUNT(*) FILTER (o_totalprice <= 0), COUNT(*) FILTER (o_totalprice <= 0) = 0 FROM orders UNION ALL SELECT 'key_unique', 'lineitem', (SELECT COUNT(*) FROM (SELECT l_orderkey, l_linenumber FROM lineitem GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1) d), (SELECT COUNT(*) FROM (SELECT l_orderkey, l_linenumber FROM lineitem GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1) d) = 0 FROM (VALUES (1)) v) t ORDER BY rule_id"""),
  )

  /** SNAPSHOT DIFF (r6) — the data-diff/reconciliation operator every
    * warehouse migration and replication audit runs: two snapshots of
    * the orders table (A = orders before 1997; B = before 1998 with a
    * simulated drift that reprices H1-1996 orders) compared by key with
    * a row-content hash. One full-outer join on the key classifies
    * every row added / removed / changed — unchanged rows are filtered
    * OUT before anything sorts, so output is bounded by the drift, not
    * the table. At 100 TB both sides hash-partition on the key and the
    * content hash collapses arbitrary column widths into one
    * comparison.
    */
  private val snapshotDiff = Op(
    "etl_snapshot_diff",
    (s, sf) => {
      // The hashed price is INTEGER CENTS (floor of identical doubles —
      // portable), never a float rendered to string: double→string and
      // double→int casts round differently across engines.
      def rowHash(df: org.apache.spark.sql.DataFrame) =
        df.select(col("o_orderkey"),
          md5(concat_ws("|", col("o_orderstatus"),
            col("cents").cast("string"), col("o_orderpriority"))).as("row_hash"))
      val o = Tables.orders(s, sf)
      val snapA = rowHash(
        o.filter(col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
          .withColumn("cents", floor(col("o_totalprice") * 100).cast("long")))
      val snapB = rowHash(
        o.filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
          .withColumn("cents",
            when(col("o_orderdate").between(
              lit("1996-01-01").cast("timestamp"), lit("1996-06-30").cast("timestamp")),
              floor(col("o_totalprice") * 110))
              .otherwise(floor(col("o_totalprice") * 100)).cast("long")))
      snapA.select(col("o_orderkey"), col("row_hash").as("hash_a"))
        .join(snapB.select(col("o_orderkey"), col("row_hash").as("hash_b")),
          Seq("o_orderkey"), "full_outer")
        .withColumn("change_type",
          when(col("hash_a").isNull, lit("added"))
            .when(col("hash_b").isNull, lit("removed"))
            .when(col("hash_a") =!= col("hash_b"), lit("changed")))
        .filter(col("change_type").isNotNull)
        .select(col("o_orderkey"), col("change_type"))
        .orderBy("o_orderkey")
    },
    Some("""WITH a AS (SELECT o_orderkey, md5(o_orderstatus || '|' || CAST(CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS VARCHAR) || '|' || o_orderpriority) AS hash_a FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'), b AS (SELECT o_orderkey, md5(o_orderstatus || '|' || CAST(CAST(CASE WHEN o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00' AND TIMESTAMP '1996-06-30 00:00:00' THEN FLOOR(o_totalprice * 110) ELSE FLOOR(o_totalprice * 100) END AS BIGINT) AS VARCHAR) || '|' || o_orderpriority) AS hash_b FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00') SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey, CASE WHEN a.o_orderkey IS NULL THEN 'added' WHEN b.o_orderkey IS NULL THEN 'removed' WHEN hash_a <> hash_b THEN 'changed' END AS change_type FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey WHERE (a.o_orderkey IS NULL OR b.o_orderkey IS NULL OR hash_a <> hash_b) ORDER BY o_orderkey"""),
  )

  /** Referential-integrity audit (r10): every FK edge of the star schema
    * checked in one report — child rows, orphan rows (no parent), and
    * distinct missing keys per edge. The load-time gate the reference
    * runs implicitly through ORM FK constraints, re-expressed as the
    * lake-world audit query (a 100 TB lake has no enforced constraints;
    * this op IS the constraint). Each edge is one scan + left join
    * against the DISTINCT parent-key relation (dimension-sized, so the
    * join broadcasts where it should) collapsed to a 1-row aggregate —
    * no fact-size shuffle survives the agg. The clean fixture reports
    * zeros; the op's value is the shape (and it would light up red on
    * a real lake).
    */
  private val fkIntegrity = Op(
    "etl_fk_integrity",
    (s, sf) => {
      def audit(fk: String, child: org.apache.spark.sql.DataFrame, key: String,
          parent: org.apache.spark.sql.DataFrame, pkey: String): org.apache.spark.sql.DataFrame =
        child.select(col(key).as("k"))
          .join(parent.select(col(pkey).as("pk")).distinct(),
            col("k") === col("pk"), "left_outer")
          .agg(count(lit(1)).as("child_rows"),
            sum(when(col("pk").isNull, 1L).otherwise(0L)).as("orphan_rows"),
            countDistinct(when(col("pk").isNull, col("k"))).as("orphan_keys"))
          .select(lit(fk).as("fk"), col("child_rows"),
            col("orphan_rows").cast("long").as("orphan_rows"), col("orphan_keys"))
      val li = Tables.lineitem(s, sf)
      audit("customer->nation", Tables.customer(s, sf), "c_nationkey", Tables.nation(s, sf), "n_nationkey")
        .union(audit("lineitem->orders", li, "l_orderkey", Tables.orders(s, sf), "o_orderkey"))
        .union(audit("lineitem->part", li, "l_partkey", Tables.part(s, sf), "p_partkey"))
        .union(audit("lineitem->supplier", li, "l_suppkey", Tables.supplier(s, sf), "s_suppkey"))
        .union(audit("orders->customer", Tables.orders(s, sf), "o_custkey", Tables.customer(s, sf), "c_custkey"))
        .orderBy("fk")
    },
    Some("""SELECT * FROM (SELECT 'customer->nation' AS fk, COUNT(*) AS child_rows, CAST(SUM(CASE WHEN p.pk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS orphan_rows, COUNT(DISTINCT CASE WHEN p.pk IS NULL THEN c.c_nationkey END) AS orphan_keys FROM customer c LEFT JOIN (SELECT DISTINCT n_nationkey AS pk FROM nation) p ON p.pk = c.c_nationkey UNION ALL SELECT 'lineitem->orders', COUNT(*), CAST(SUM(CASE WHEN p.pk IS NULL THEN 1 ELSE 0 END) AS BIGINT), COUNT(DISTINCT CASE WHEN p.pk IS NULL THEN l.l_orderkey END) FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey AS pk FROM orders) p ON p.pk = l.l_orderkey UNION ALL SELECT 'lineitem->part', COUNT(*), CAST(SUM(CASE WHEN p.pk IS NULL THEN 1 ELSE 0 END) AS BIGINT), COUNT(DISTINCT CASE WHEN p.pk IS NULL THEN l.l_partkey END) FROM lineitem l LEFT JOIN (SELECT DISTINCT p_partkey AS pk FROM part) p ON p.pk = l.l_partkey UNION ALL SELECT 'lineitem->supplier', COUNT(*), CAST(SUM(CASE WHEN p.pk IS NULL THEN 1 ELSE 0 END) AS BIGINT), COUNT(DISTINCT CASE WHEN p.pk IS NULL THEN l.l_suppkey END) FROM lineitem l LEFT JOIN (SELECT DISTINCT s_suppkey AS pk FROM supplier) p ON p.pk = l.l_suppkey UNION ALL SELECT 'orders->customer', COUNT(*), CAST(SUM(CASE WHEN p.pk IS NULL THEN 1 ELSE 0 END) AS BIGINT), COUNT(DISTINCT CASE WHEN p.pk IS NULL THEN o.o_custkey END) FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey AS pk FROM customer) p ON p.pk = o.o_custkey) t ORDER BY fk"""),
  )

  /** Calendar dimension build (r10): the date spine every warehouse
    * derives once and joins everywhere — generated from the fact's own
    * date range (one 2-row aggregate → explode(sequence(d0, d1))), with
    * the standard attributes (year/quarter/month/day, ISO week,
    * day-of-week, weekend and month-boundary flags). Dimension
    * generation is driver-free and O(days) — the spine is broadcast
    * material at any fact scale. Day-of-week parity: Spark 1=Sunday..7
    * vs DuckDB 0=Sunday..6 (+1 in the oracle, the chisq convention);
    * both engines' weekofyear is ISO 8601.
    */
  private val dateDim = Op(
    "etl_date_dim",
    (s, sf) => {
      val span = Tables.orders(s, sf).agg(
        min(to_date(col("o_orderdate"))).as("d0"),
        max(to_date(col("o_orderdate"))).as("d1"))
      span.select(explode(sequence(col("d0"), col("d1"))).as("day"))
        .select(col("day"),
          year(col("day")).as("yr"),
          quarter(col("day")).as("qtr"),
          month(col("day")).as("mo"),
          dayofmonth(col("day")).as("dom"),
          dayofweek(col("day")).as("dow"),
          weekofyear(col("day")).as("iso_week"),
          dayofweek(col("day")).isin(1, 7).as("is_weekend"),
          (dayofmonth(col("day")) === 1).as("is_month_start"))
        .orderBy("day")
    },
    Some("""WITH span AS (SELECT MIN(CAST(o_orderdate AS DATE)) AS d0, MAX(CAST(o_orderdate AS DATE)) AS d1 FROM orders), spine AS (SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day FROM span) SELECT day, CAST(year(day) AS INT) AS yr, CAST(quarter(day) AS INT) AS qtr, CAST(month(day) AS INT) AS mo, CAST(dayofmonth(day) AS INT) AS dom, CAST(dayofweek(day) + 1 AS INT) AS dow, CAST(weekofyear(day) AS INT) AS iso_week, dayofweek(day) + 1 IN (1, 7) AS is_weekend, dayofmonth(day) = 1 AS is_month_start FROM spine ORDER BY day"""),
  )

  /** Order-free whole-table fingerprint (r10b): the cross-engine /
    * cross-copy integrity check a migration or replication job runs
    * after every load ("is the replica byte-equivalent to the source?").
    * Each row renders to ONE canonical string — integers as-is, doubles
    * through DECIMAL(18,6) (fixed 6-digit rendering on both engines,
    * dodging engine float-to-string skew), the timestamp as an ISO
    * date — then md5 → 28-bit int, and the table collapses to
    * (count, sum, min, max) of row hashes: commutative aggregates, so
    * the fingerprint is independent of partitioning, row order, and
    * engine. Scale shape: one linear scan, map-side combined to a
    * single row; any subset (partition, day) fingerprints the same way
    * and sums compose. hash_sum accumulates as DECIMAL(38,0) and is
    * reported MOD 2^62 (r10 advice): at ~1e12 rows a LongType sum of
    * 28-bit hashes wraps silently in non-ANSI Spark while DuckDB's
    * HUGEINT CAST errors — the fingerprint would diverge exactly at the
    * scale the op advertises. The modular form is still commutative and
    * composes across subsets ((a+b) mod m = (a mod m + b mod m) mod m),
    * the accumulator holds to ~1e29 rows, and the reported value always
    * fits BIGINT (the output-type rulebook bans DECIMAL columns).
    */
  /** The canonical per-row rendering + 28-bit hash shared by the whole-
    * table and per-partition fingerprints (one definition so the
    * composition law is by construction, not by convention).
    */
  private def lineitemHashed(s: SparkSession, sf: String): DataFrame = {
    import parity.Dec
    val canon = concat_ws("|",
      col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
      col("l_quantity").cast(Dec).cast("string"),
      col("l_extendedprice").cast(Dec).cast("string"),
      col("l_discount").cast(Dec).cast("string"),
      col("l_tax").cast(Dec).cast("string"),
      col("l_returnflag"), col("l_linestatus"),
      to_date(col("l_shipdate")).cast("string"))
    Tables.lineitem(s, sf)
      .select(date_trunc("month", col("l_shipdate")).cast("date").as("ship_month"),
        conv(substring(md5(canon), 1, 7), 16, 10).cast("long").as("h"))
  }

  private val tableFingerprint = Op(
    "etl_table_fingerprint",
    (s, sf) => {
      lineitemHashed(s, sf)
        .agg(count(lit(1)).as("n_rows"),
          (sum(col("h").cast(org.apache.spark.sql.types.DecimalType(38, 0)))
            % lit(4611686018427387904L)).cast("long").as("hash_sum"),
          min("h").as("hash_min"), max("h").as("hash_max"))
    },
    Some("""WITH h AS (SELECT CAST(concat('0x', substr(md5(concat_ws('|', CAST(l_orderkey AS VARCHAR), CAST(l_linenumber AS VARCHAR), CAST(l_partkey AS VARCHAR), CAST(l_suppkey AS VARCHAR), CAST(CAST(l_quantity AS DECIMAL(18,6)) AS VARCHAR), CAST(CAST(l_extendedprice AS DECIMAL(18,6)) AS VARCHAR), CAST(CAST(l_discount AS DECIMAL(18,6)) AS VARCHAR), CAST(CAST(l_tax AS DECIMAL(18,6)) AS VARCHAR), l_returnflag, l_linestatus, CAST(CAST(l_shipdate AS DATE) AS VARCHAR))), 1, 7)) AS BIGINT) AS h FROM lineitem) SELECT COUNT(*) AS n_rows, CAST(SUM(CAST(h AS DECIMAL(38,0))) % 4611686018427387904 AS BIGINT) AS hash_sum, MIN(h) AS hash_min, MAX(h) AS hash_max FROM h"""),
  )

  /** PER-PARTITION fingerprint composition (r11) — the subset form of
    * [[tableFingerprint]]'s composability claim, executed: each
    * ship-month partition reports its own (n_rows, mod-2^62 hash sum,
    * min, max) from the SAME canonical rendering, so replica
    * reconciliation can localize a mismatch to the partition instead of
    * re-checking 100 TB ((Σ partition sums) mod m = table sum —
    * FingerprintComposeSpec asserts the law against the whole-table
    * op's output). One linear hash-agg keyed by the partition column.
    */
  private val fingerprintByPartition = Op(
    "etl_fingerprint_by_partition",
    (s, sf) => {
      lineitemHashed(s, sf)
        .groupBy("ship_month")
        .agg(count(lit(1)).as("n_rows"),
          (sum(col("h").cast(org.apache.spark.sql.types.DecimalType(38, 0)))
            % lit(4611686018427387904L)).cast("long").as("hash_sum"),
          min("h").as("hash_min"), max("h").as("hash_max"))
        .orderBy("ship_month")
    },
    Some("""WITH h AS (SELECT CAST(date_trunc('month', CAST(l_shipdate AS DATE)) AS DATE) AS ship_month, CAST(concat('0x', substr(md5(concat_ws('|', CAST(l_orderkey AS VARCHAR), CAST(l_linenumber AS VARCHAR), CAST(l_partkey AS VARCHAR), CAST(l_suppkey AS VARCHAR), CAST(CAST(l_quantity AS DECIMAL(18,6)) AS VARCHAR), CAST(CAST(l_extendedprice AS DECIMAL(18,6)) AS VARCHAR), CAST(CAST(l_discount AS DECIMAL(18,6)) AS VARCHAR), CAST(CAST(l_tax AS DECIMAL(18,6)) AS VARCHAR), l_returnflag, l_linestatus, CAST(CAST(l_shipdate AS DATE) AS VARCHAR))), 1, 7)) AS BIGINT) AS h FROM lineitem) SELECT ship_month, COUNT(*) AS n_rows, CAST(SUM(CAST(h AS DECIMAL(38,0))) % 4611686018427387904 AS BIGINT) AS hash_sum, MIN(h) AS hash_min, MAX(h) AS hash_max FROM h GROUP BY 1 ORDER BY ship_month"""),
  )

  /** Partition-skew audit (r10c): would `orders` partitioned by
    * (year, month) of o_orderdate lay out evenly? The pre-flight a
    * `partitionBy` writer runs before committing a layout — a hot
    * month 10× the mean becomes the straggler task of every downstream
    * scan. One linear hash-agg to per-partition (rows, exact decimal
    * revenue), then window math over the months-bounded relation:
    * share of total rows, skew ratio vs the uniform mean, and the
    * ratio > 2 flag a layout job would alert on.
    */
  private val partitionSkewAudit = Op(
    "etl_partition_skew_audit",
    (s, sf) => {
      import org.apache.spark.sql.expressions.Window
      import parity.{dec, r6}
      val p = Tables.orders(s, sf)
        .groupBy(year(col("o_orderdate")).as("yr"), month(col("o_orderdate")).as("mo"))
        .agg(count(lit(1)).as("n_rows"), sum(dec(col("o_totalprice"))).as("rev"))
      val wAll = Window.partitionBy()
      p.withColumn("tot", sum("n_rows").over(wAll))
        .withColumn("nparts", count(lit(1)).over(wAll))
        .select(col("yr"), col("mo"), col("n_rows"),
          col("rev").cast("double").as("revenue"),
          r6(col("n_rows").cast("double") / col("tot")).as("row_share"),
          r6(col("n_rows").cast("double") * col("nparts") / col("tot")).as("skew_ratio"),
          (col("n_rows").cast("double") * col("nparts") / col("tot") > 2.0).as("skewed"))
        .orderBy("yr", "mo")
    },
    Some("""WITH p AS (SELECT EXTRACT(year FROM o_orderdate) AS yr, EXTRACT(month FROM o_orderdate) AS mo, COUNT(*) AS n_rows, SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS rev FROM orders GROUP BY 1, 2), x AS (SELECT CAST(yr AS INT) AS yr, CAST(mo AS INT) AS mo, CAST(n_rows AS BIGINT) AS n_rows, CAST(rev AS DOUBLE) AS revenue, CAST(SUM(n_rows) OVER () AS BIGINT) AS tot, CAST(COUNT(*) OVER () AS BIGINT) AS nparts FROM p) SELECT yr, mo, n_rows, revenue, ROUND(1e-9 + CAST(n_rows AS DOUBLE) / tot, 6) AS row_share, ROUND(1e-9 + CAST(n_rows AS DOUBLE) * nparts / tot, 6) AS skew_ratio, CAST(n_rows AS DOUBLE) * nparts / tot > 2.0 AS skewed FROM x ORDER BY yr, mo"""),
  )

  /** CDC net-changes compaction (r10e): the Debezium-style batch
    * compaction of an op-log WINDOW against a baseline cut — the
    * downstream-friendly dual of streaming's per-op apply
    * (`stream_cdc_apply`): a consumer that syncs daily wants one NET row
    * per key (insert/update/delete vs the baseline), not every
    * intermediate op. Op-log convention matches the stream key:
    * event_type 'error' = delete/tombstone, anything else = upsert of
    * `value`, total order (ts, event_id). Baseline = state at the
    * week-1 cut; window = everything after. Keys with no window ops —
    * or dead on both sides — compact away entirely (the whole point).
    * Scale shape: two rank windows per user partition + one conditional
    * count; shuffles once on the key like any CDC reader.
    */
  private val cdcNetChanges = Op(
    "etl_cdc_net_changes",
    (s, sf) => {
      import org.apache.spark.sql.expressions.Window
      import parity.r6
      val cut = lit("2024-01-08").cast("timestamp")
      val ev = Tables.events(s, sf)
      val wDesc = Window.partitionBy("user_id")
        .orderBy(col("ts").desc, col("event_id").desc)
      val before = ev.filter(col("ts") < cut)
        .withColumn("rn", row_number().over(wDesc)).filter(col("rn") === 1)
        .select(col("user_id"),
          (col("event_type") =!= "error").as("alive1"),
          col("value").as("v1"))
      val after = ev
        .withColumn("rn", row_number().over(wDesc)).filter(col("rn") === 1)
        .select(col("user_id"),
          (col("event_type") =!= "error").as("alive2"),
          col("value").as("v2"), col("ts").as("last_ts"))
      val nWin = ev.filter(col("ts") >= cut)
        .groupBy("user_id").agg(count(lit(1)).as("n_ops_window"))
      nWin.join(before, Seq("user_id"), "left").join(after, Seq("user_id"))
        .withColumn("b_alive", coalesce(col("alive1"), lit(false)))
        .withColumn("net_op",
          when(!col("b_alive") && col("alive2"), "insert")
            .when(col("b_alive") && !col("alive2"), "delete")
            .when(col("b_alive") && col("alive2"), "update"))
        .filter(col("net_op").isNotNull)
        .select(col("user_id"), col("net_op"),
          when(col("b_alive"), r6(col("v1"))).as("before_value"),
          when(col("alive2"), r6(col("v2"))).as("after_value"),
          col("last_ts"), col("n_ops_window"))
        .orderBy("user_id")
    },
    Some("""WITH before AS (SELECT user_id, event_type <> 'error' AS alive1, value AS v1 FROM (SELECT user_id, event_type, value, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn FROM events WHERE ts < TIMESTAMP '2024-01-08') t WHERE rn = 1), after AS (SELECT user_id, event_type <> 'error' AS alive2, value AS v2, ts AS last_ts FROM (SELECT user_id, event_type, value, ts, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn FROM events) t WHERE rn = 1), w AS (SELECT user_id, COUNT(*) AS n_ops_window FROM events WHERE ts >= TIMESTAMP '2024-01-08' GROUP BY 1), j AS (SELECT w.user_id, COALESCE(before.alive1, false) AS b_alive, before.v1, after.alive2, after.v2, after.last_ts, w.n_ops_window FROM w LEFT JOIN before ON before.user_id = w.user_id JOIN after ON after.user_id = w.user_id) SELECT user_id, CASE WHEN NOT b_alive AND alive2 THEN 'insert' WHEN b_alive AND NOT alive2 THEN 'delete' WHEN b_alive AND alive2 THEN 'update' END AS net_op, CASE WHEN b_alive THEN ROUND(1e-9 + v1, 6) END AS before_value, CASE WHEN alive2 THEN ROUND(1e-9 + v2, 6) END AS after_value, last_ts, n_ops_window FROM j WHERE (CASE WHEN NOT b_alive AND alive2 THEN 'insert' WHEN b_alive AND NOT alive2 THEN 'delete' WHEN b_alive AND alive2 THEN 'update' END) IS NOT NULL ORDER BY user_id"""),
  )

  /** PARTITION RETENTION VACUUM (r11) — the lifecycle job every
    * date-partitioned lake table runs: land events partitioned by day,
    * DROP partitions older than the 20-day retention horizon
    * (directory-level deletes — the whole point of date partitioning
    * is that retention never reads data), and audit what remains. The
    * audit re-reads the vacuumed table, so the oracle (pure date
    * arithmetic over the source) also proves the deletes removed
    * exactly the expired partitions and nothing else.
    */
  private val vacuumRunId = new java.util.concurrent.atomic.AtomicInteger
  private val vacuumRetention = Op(
    "etl_vacuum_retention",
    (s, sf) => {
      val base = Tables.tmp("graft_vacuum/") +
        sf.replaceAll("[^a-zA-Z0-9.]", "_")
      // Pre-clean ALL prior runIds at this sf (invocations are
      // sequential within a harness), not just the one about to be
      // used — otherwise bench (min-of-2) + verify + test runs
      // accumulate full partitioned copies of events in /tmp.
      Tables.rmTree(new java.io.File(base))
      val dir = s"$base/${vacuumRunId.incrementAndGet()}"
      val ev = Tables.events(s, sf)
      ev.withColumn("event_date", to_date(col("ts")))
        .write.partitionBy("event_date").parquet(dir)
      val maxDay = ev.agg(max(to_date(col("ts"))).as("d")).collect()(0).getDate(0)
      val cutoff = maxDay.toLocalDate.minusDays(20)
      val parts = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("event_date="))
      val nBefore = parts.length
      val expired = parts.filter(f =>
        java.time.LocalDate.parse(f.getName.stripPrefix("event_date=")).isBefore(cutoff))
      expired.foreach(Tables.rmTree) // directory-level retention delete
      val back = Tables.parquet(s, dir)
      back.agg(
          countDistinct(col("event_date")).as("n_retained"),
          count(lit(1)).as("n_rows_retained"),
          min(col("event_date")).cast("date").as("min_retained_date"))
        .select(
          lit(nBefore.toLong).as("n_partitions_before"),
          lit(expired.length.toLong).as("n_vacuumed"),
          col("n_retained"), col("n_rows_retained"), col("min_retained_date"))
    },
    Some("""WITH d AS (SELECT CAST(ts AS DATE) AS day FROM events), horizon AS (SELECT MAX(day) - INTERVAL 20 DAY AS cutoff FROM d) SELECT (SELECT COUNT(DISTINCT day) FROM d) AS n_partitions_before, CAST((SELECT COUNT(DISTINCT day) FROM d, horizon WHERE day < cutoff) AS BIGINT) AS n_vacuumed, (SELECT COUNT(DISTINCT day) FROM d, horizon WHERE day >= cutoff) AS n_retained, (SELECT COUNT(*) FROM d, horizon WHERE day >= cutoff) AS n_rows_retained, (SELECT MIN(day) FROM d, horizon WHERE day >= cutoff) AS min_retained_date"""),
  )

  val ops: Seq[Op] = Seq(dedupLoad, incrementalMerge, scd2Build, dqChecks,
    snapshotDiff, scd2PointInTime, fkIntegrity, dateDim, tableFingerprint,
    partitionSkewAudit, cdcNetChanges, vacuumRetention, fingerprintByPartition)
}
