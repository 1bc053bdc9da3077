package graft.ops

import java.util.concurrent.atomic.AtomicInteger

import graft.{Op, OpGroup, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import parity._

/** §2.J — Structured Streaming surface. The reference is batch-only (a
  * Postgres loader); this is the north-star extension. Because the
  * source is a finite parquet file, every op runs the stream to
  * completion with Trigger.AvailableNow into a memory sink and returns
  * the result — giving each streaming op a deterministic batch-equal
  * oracle (the driver's DuckDB SQL is the batch dual).
  *
  * All windowed aggregations run APPEND output mode — the production
  * semantics whose state is bounded by the watermark horizon: windows
  * emit exactly once, only after the watermark passes their end, and
  * the trailing still-open windows never emit (r3 ran these COMPLETE
  * for batch parity; the r3 verdict correctly called that unbounded
  * state at 100 TB, and the closed-window oracle pattern proved out on
  * `stream_append_windowed`, so r4 re-oracled the family). Each oracle
  * is the batch dual restricted to windows with
  * `end <= watermark = ms_floor(max event time) − delay` (inclusive —
  * verified empirically; AvailableNow runs a final no-data micro-batch
  * that evicts exactly those windows). Two-micro-batch late-row/open-
  * window behavior is additionally asserted in StreamingAppendSpec.
  * The one non-windowed stateful agg (`stream_stateful_agg`) runs
  * update mode — its state is per-key bounded, not time-bounded.
  */
object Streaming extends OpGroup {

  /** Memory-sink query names must be unique per invocation. */
  private val runId = new AtomicInteger

  /** events as a stream: file streams can't infer a schema, so derive it
    * from a batch scan of the same file (under the same nanos-as-long
    * conf) rather than re-declaring one — a hard-coded `ts LongType`
    * silently read a micros fixture as if nanos and produced 1970-era
    * windows (r8). The shared Tables.normalizeEventsTs then applies the
    * matching ts conversion, so batch and stream can't diverge. The
    * footer read goes through the schema memo of `Tables.parquet`, so
    * repeat builds run no inference job.
    */
  private def eventsStream(s: SparkSession, sf: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = Tables.parquet(s, s"$sf/events.parquet").schema
    // The file stream source wants a directory. The driver's fixtures
    // ship events.parquet as a single FILE next to the other tables, so
    // there the stream points at the tier dir glob-filtered to that
    // leaf name; a Spark-written tier (GenSf1's sf1) ships it as a
    // DIRECTORY of part files, which the stream can consume directly —
    // the leaf glob would match nothing there (r15: every streaming key
    // read 0 rows at sf1 until this became layout-aware).
    Tables.normalizeEventsTs(
      if (new java.io.File(s"$sf/events.parquet").isDirectory)
        s.readStream.schema(raw).parquet(s"$sf/events.parquet")
      else
        s.readStream.schema(raw).option("pathGlobFilter", "events.parquet")
          .parquet(sf))
  }

  /** Run a (finite) streaming DataFrame to completion, return the sink. */
  private def runToCompletion(s: SparkSession, df: DataFrame, mode: String): DataFrame = {
    val name = s"graft_stream_${runId.incrementAndGet()}"
    val q = df.writeStream.outputMode(mode).format("memory")
      .queryName(name).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    s.table(name)
  }

  /** Build and run a stateful query with shuffle (= state-store)
    * partitions sized to STATE VOLUME, not core count: every stateful
    * operator opens one state store per shuffle partition and their
    * per-partition setup dominates small-state queries (measured first
    * on stream_stream_join: 8.0 s @32 → 2.2 s @4 at sf0.1; the same
    * ~0.5–1 s saving holds per windowed agg). The partition count is
    * baked into a real deployment's checkpoint, so it is a
    * creation-time decision there too — sized to the watermark-horizon
    * state, which for these queries is hundreds of windows/keys, not
    * millions of rows. Restored after the bounded run so batch ops keep
    * the session default.
    */
  private def withStateParts[T](s: SparkSession, n: Int)(body: => T): T =
    graft.Tables.withConfs(s, Seq("spark.sql.shuffle.partitions" -> n.toString))(body)

  /** Tumbling 15-minute counts per event type, append mode: each window
    * emits once when the 1-hour watermark passes its end; the ~4 windows
    * inside the final watermark horizon stay open and never emit, which
    * is exactly what the oracle's closed-window predicate checks. (The
    * 1-hour-tumble/30-min-delay point of the config space is
    * `stream_append_windowed`; this op covers a different window:delay
    * ratio so the two keys aren't the same query.)
    */
  private val tumblingCounts = Op(
    "stream_tumbling_counts",
    (s, sf) => withStateParts(s, 8) {
      val agg = eventsStream(s, sf)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), r6(sum(dec(col("value"))).cast("double")).as("sum_value"))
      runToCompletion(s, agg, "append")
        .select(col("window.start").as("win_start"), col("event_type"), col("n"), col("sum_value"))
        .orderBy("win_start", "event_type")
    },
    Some("""WITH m AS (SELECT (epoch_ms(MAX(ts)) - 3600000) * 1000 AS wm_us FROM events) SELECT CAST(to_timestamp(floor(epoch(ts) / 900) * 900) AS TIMESTAMP) AS win_start, event_type, COUNT(*) AS n, ROUND(1e-9 + CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_value FROM events, m WHERE epoch_us(to_timestamp(floor(epoch(ts) / 900) * 900) + INTERVAL 15 MINUTE) <= wm_us GROUP BY 1, 2 ORDER BY win_start, event_type"""),
  )

  /** Sliding windows (1 hour every 15 minutes), average value per
    * window×type, append mode. Spark's window() aligns slides to the
    * unix epoch, so the batch dual enumerates the 4 covering starts via
    * epoch math, then keeps only windows closed by the 30-minute
    * watermark (win_start + 1 h ≤ wm).
    */
  private val slidingAvg = Op(
    "stream_sliding_avg",
    (s, sf) => withStateParts(s, 8) {
      val agg = eventsStream(s, sf)
        .withWatermark("ts", "30 minutes")
        .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          r6(sum(dec(col("value"))).cast("double") / count(lit(1))).as("avg_value"))
      runToCompletion(s, agg, "append")
        .select(col("window.start").as("win_start"), col("event_type"), col("n"), col("avg_value"))
        .orderBy("win_start", "event_type")
    },
    Some("""WITH m AS (SELECT (epoch_ms(MAX(ts)) - 1800000) * 1000 AS wm_us FROM events) SELECT CAST(to_timestamp(floor(epoch(ts) / 900) * 900 - k * 900) AS TIMESTAMP) AS win_start, event_type, COUNT(*) AS n, ROUND(1e-9 + CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS avg_value FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k) ks, m WHERE epoch_us(to_timestamp(floor(epoch(ts) / 900) * 900 - k * 900) + INTERVAL 1 HOUR) <= wm_us GROUP BY 1, 2 ORDER BY win_start, event_type"""),
  )

  /** Session windows, 30-minute gap, per user, append mode — the
    * streaming dual of win_lag_sessionize (same gap constant).
    * session_window's end is last-event-time + gap; a session emits
    * once the 30-minute watermark passes that end, so the batch dual
    * sessionizes and keeps sessions with end ≤ wm. (Merging of
    * out-of-order session fragments happens inside the state store;
    * over the finite source the merged result equals the batch
    * sessionization exactly.)
    */
  private val sessionWindow = Op(
    "stream_session_window",
    (s, sf) => withStateParts(s, 8) {
      val agg = eventsStream(s, sf)
        .withWatermark("ts", "30 minutes")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), r6(sum(dec(col("value"))).cast("double")).as("session_value"))
      runToCompletion(s, agg, "append")
        .select(col("user_id"), col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"), col("n_events"), col("session_value"))
        .orderBy("user_id", "session_start")
    },
    Some("""WITH m AS (SELECT (epoch_ms(MAX(ts)) - 1800000) * 1000 AS wm_us FROM events), sess AS (SELECT user_id, MIN(ts) AS session_start, MAX(ts) + INTERVAL 30 MINUTE AS session_end, COUNT(*) AS n_events, ROUND(1e-9 + CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS session_value FROM (SELECT user_id, ts, value, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id FROM (SELECT user_id, ts, value, event_id, CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL OR epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000 THEN 1 ELSE 0 END AS new_sess FROM events) t) t2 GROUP BY user_id, session_id) SELECT user_id, session_start, session_end, n_events, session_value FROM sess, m WHERE epoch_us(session_end) <= wm_us ORDER BY user_id, session_start"""),
  )

  /** APPEND-mode windowed aggregation — the production late-data
    * semantics the COMPLETE-mode ops can't witness: windows emit exactly
    * once, only after the watermark passes their end, and the trailing
    * still-open windows never emit. Deterministic over a finite source
    * because AvailableNow runs a final no-data micro-batch after the
    * data batches, which evicts every window with
    * `end <= watermark = ms_floor(max event time) − 30 min` (verified
    * empirically: eviction is INCLUSIVE at end == watermark, and the
    * watermark is computed in whole milliseconds). The oracle is the
    * batch dual restricted to exactly those closed windows — so the
    * late/open-window boundary itself is what the DuckDB gate checks.
    * State at real scale is bounded by the watermark horizon, unlike the
    * COMPLETE-mode ops (their trade-off is documented in the header).
    */
  private val appendWindowed = Op(
    "stream_append_windowed",
    (s, sf) => withStateParts(s, 8) {
      val agg = eventsStream(s, sf)
        .withWatermark("ts", "30 minutes")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), r6(sum(dec(col("value"))).cast("double")).as("sum_value"))
      runToCompletion(s, agg, "append")
        .select(col("window.start").as("win_start"), col("event_type"), col("n"), col("sum_value"))
        .orderBy("win_start", "event_type")
    },
    Some("""WITH m AS (SELECT (epoch_ms(MAX(ts)) - 1800000) * 1000 AS wm_us FROM events) SELECT date_trunc('hour', ts) AS win_start, event_type, COUNT(*) AS n, ROUND(1e-9 + CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_value FROM events, m WHERE epoch_us(date_trunc('hour', ts) + INTERVAL 1 HOUR) <= wm_us GROUP BY 1, 2 ORDER BY win_start, event_type"""),
  )

  /** Streaming dedup on event_id within a 1-hour watermark: state holds
    * one key per id seen within the horizon; duplicates arriving inside
    * it are dropped, and state self-expires (bounded memory — the whole
    * point vs. a global dropDuplicates). The corpus has unique
    * event_ids, so the stream UNIONs a deterministic duplicate of every
    * 10th event shifted +5 minutes (inside the horizon) — the r3 oracle
    * was an identity projection that a no-op would also have passed;
    * now the oracle's DISTINCT-on-id is only reachable if the operator
    * actually drops the injected rows. Two-batch arrival-order behavior
    * stays covered in StreamingSpec.
    */
  private val dedupWatermark = Op(
    "stream_dedup_watermark",
    (s, sf) => withStateParts(s, 8) {
      val src = eventsStream(s, sf)
      val dups = src.filter(pmod(col("event_id"), lit(10)) === 0)
        .withColumn("ts", col("ts") + expr("INTERVAL 5 MINUTES"))
      // ts is dropped from the OUTPUT (not the stream): which of the two
      // same-id rows wins is shuffle-arrival-order dependent, and they
      // differ only in ts — projecting it away makes the kept row
      // deterministic while the dedup still had to fire to collapse
      // them.
      val deduped = src.union(dups)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
        .select(col("event_id"), col("user_id"), col("event_type"))
      runToCompletion(s, deduped, "append").orderBy("event_id")
    },
    Some("""SELECT DISTINCT event_id, user_id, event_type FROM (SELECT event_id, user_id, event_type FROM events UNION ALL SELECT event_id, user_id, event_type FROM events WHERE event_id % 10 = 0) u ORDER BY event_id"""),
  )

  /** Custom stateful aggregation via mapGroupsWithState — the escape
    * hatch under all built-in streaming aggs: per-user running
    * (count, sum, first/last ts) state, re-emitted each batch in update
    * mode. The measure is carried as exact integer micros (decimal(18,6)
    * × 10⁶ fits a long) so state merge is associative and order-free —
    * the portable-sum discipline applied to hand-rolled state. The
    * single-file source yields one micro-batch, so the update-mode
    * memory sink holds exactly one row per user (multi-batch sinks would
    * take the latest emission per key).
    */
  private val statefulAgg = Op(
    "stream_stateful_agg",
    (s, sf) => withStateParts(s, 8) {
      import s.implicits._
      import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
      val src = eventsStream(s, sf)
        .select(
          col("user_id"),
          expr("cast(cast(value as decimal(18,6)) * 1000000 as bigint)").as("micros"),
          expr("unix_micros(ts)").as("ts_us"),
        )
        .as[(Long, Long, Long)]
      val updated = src.groupByKey(_._1).mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long, Long)],
         state: GroupState[(Long, Long, Long, Long)]) =>
          var (n, sum, tmin, tmax) =
            state.getOption.getOrElse((0L, 0L, Long.MaxValue, Long.MinValue))
          rows.foreach { case (_, m, t) =>
            n += 1; sum += m
            if (t < tmin) tmin = t
            if (t > tmax) tmax = t
          }
          state.update((n, sum, tmin, tmax))
          (user, n, sum, tmin, tmax)
      }
      runToCompletion(s, updated.toDF("user_id", "n_events", "sum_micros", "min_us", "max_us"),
          OutputMode.Update().toString.toLowerCase)
        .select(
          col("user_id"), col("n_events"),
          r6(col("sum_micros") / 1000000.0).as("sum_value"),
          expr("timestamp_micros(min_us)").as("first_ts"),
          expr("timestamp_micros(max_us)").as("last_ts"),
        )
        .orderBy("user_id")
    },
    Some("""SELECT user_id, COUNT(*) AS n_events, ROUND(1e-9 + CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_value, MIN(ts) AS first_ts, MAX(ts) AS last_ts FROM events GROUP BY user_id ORDER BY user_id"""),
  )

  /** The streaming SINK path: foreachBatch lands each micro-batch as
    * parquet keyed by batch id — the idempotent (exactly-once on replay)
    * production pattern for arbitrary sinks — then the landed files are
    * read back and aggregated. Oracle = the same aggregate over the
    * source table, proving the sink lost and duplicated nothing.
    */
  private val foreachBatchSink = Op(
    "stream_foreachbatch_sink",
    (s, sf) => {
      val dir = Tables.tmp("graft_stream_sink/") +
        s"${sf.replaceAll("[^a-zA-Z0-9.]", "_")}/${runId.incrementAndGet()}"
      val q = eventsStream(s, sf).writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          // Overwrite per batch id: a replayed batch lands on the same
          // path instead of duplicating (idempotent sink contract).
          batch.write.mode("overwrite").parquet(s"$dir/batch_id=$batchId")
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      Tables.parquet(s, dir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), r6(sum(dec(col("value"))).cast("double")).as("sum_value"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type, COUNT(*) AS n, ROUND(1e-9 + CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_value FROM events GROUP BY event_type ORDER BY event_type"""),
  )

  /** STREAM-STREAM inner join — the attribution shape (purchase joined
    * to the same user's clicks within the preceding 30 minutes). Both
    * sides are streams: each buffers rows in the state store keyed by
    * user, and the TIME-RANGE condition is mandatory — it lets the
    * watermark expire buffered clicks older than (watermark − 30 min),
    * bounding state; an unbounded-condition stream-stream join would
    * buffer both streams forever. Inner joins emit on match, so over the
    * finite source the result equals the batch range join exactly
    * (nothing is withheld for lateness within a single data batch),
    * which is what the oracle checks.
    */
  private val streamStreamJoin = Op(
    "stream_stream_join",
    // A stream-stream join opens TWO state stores per partition — the
    // op where the state-volume sizing was first measured (see
    // withStateParts).
    (s, sf) => withStateParts(s, 8) {
      val clicks = eventsStream(s, sf)
        .filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
          col("ts").as("click_ts"))
        .withWatermark("click_ts", "1 day")
      val purchases = eventsStream(s, sf)
        .filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
          col("ts").as("purchase_ts"), col("value"))
        .withWatermark("purchase_ts", "1 day")
      val joined = purchases.join(clicks,
        col("p_user") === col("c_user") &&
          col("click_ts") <= col("purchase_ts") &&
          col("click_ts") >= col("purchase_ts") - expr("INTERVAL 30 MINUTES"))
        .select(col("purchase_id"), col("click_id"), col("p_user").as("user_id"),
          col("purchase_ts"), col("click_ts"), col("value"))
      runToCompletion(s, joined, "append").orderBy("purchase_id", "click_id")
    },
    Some("""SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id AS user_id, p.ts AS purchase_ts, c.ts AS click_ts, p.value AS value FROM events p JOIN events c ON p.event_type = 'purchase' AND c.event_type = 'click' AND p.user_id = c.user_id AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 30 MINUTE ORDER BY purchase_id, click_id"""),
  )

  /** Stream-static enrichment join — the canonical streaming-ETL shape:
    * the event stream joins a static dimension (customer ⋈ nation,
    * broadcast per micro-batch; the static side is re-planned each
    * batch, so a slowly-changing dim picks up updates) and aggregates
    * per nation. The stream side drives; no watermark is needed for a
    * stream-static INNER join (no state accumulates on the static side).
    */
  private val staticJoin = Op(
    "stream_static_join",
    (s, sf) => withStateParts(s, 8) {
      val dim = Tables.customer(s, sf)
        .join(Tables.nation(s, sf),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name"))
      val agg = eventsStream(s, sf)
        .join(dim, col("user_id") === col("c_custkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_events"), r6(sum(dec(col("value"))).cast("double")).as("sum_value"))
      runToCompletion(s, agg, "complete").orderBy("n_name")
    },
    Some("""SELECT n_name, COUNT(*) AS n_events, ROUND(1e-9 + CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_value FROM events JOIN customer ON user_id = c_custkey JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name ORDER BY n_name"""),
  )

  /** CDC APPLY (r5) — the change-data-capture materialization shape:
    * events replay as an ordered op-log per user (event_type 'error' =
    * DELETE tombstone, anything else = UPSERT of value), applied through
    * per-key state to a final alive-rows snapshot. The within-key apply
    * ORDER is the semantic core — the group iterator is unordered, so
    * each group buffers and sorts by (ts, event_id) before folding; at
    * real scale the same op runs continuously and the snapshot is the
    * state itself. Value is carried UNTOUCHED in state (last-wins needs
    * no associativity) and r6-rounded only at the edge. Single-file
    * source ⇒ one micro-batch ⇒ the update-mode memory sink holds one
    * row per key (same contract as stream_stateful_agg); tombstoned
    * keys emit alive=false and are filtered after the sink.
    */
  private val cdcApply = Op(
    "stream_cdc_apply",
    (s, sf) => withStateParts(s, 8) {
      import s.implicits._
      import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
      val src = eventsStream(s, sf)
        .select(col("user_id"), col("event_id"), expr("unix_micros(ts)").as("ts_us"),
          col("event_type"), col("value"))
        .as[(Long, Long, Long, String, Double)]
      // state: (alive, lastValue, lastTsUs, nOpsApplied)
      val applied = src.groupByKey(_._1).mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long, Long, String, Double)],
         state: GroupState[(Boolean, Double, Long, Long)]) =>
          var (alive, v, ts, n) = state.getOption.getOrElse((false, 0.0, 0L, 0L))
          rows.toSeq.sortBy(r => (r._3, r._2)).foreach { case (_, _, tsUs, op, value) =>
            n += 1
            if (op == "error") { alive = false; v = 0.0; ts = tsUs }
            else { alive = true; v = value; ts = tsUs }
          }
          state.update((alive, v, ts, n))
          (user, alive, v, ts, n)
      }
      runToCompletion(s,
          applied.toDF("user_id", "alive", "last_value", "ts_us", "n_ops"),
          OutputMode.Update().toString.toLowerCase)
        .filter(col("alive"))
        .select(col("user_id"), r6(col("last_value")).as("last_value"),
          expr("timestamp_micros(ts_us)").as("last_ts"), col("n_ops"))
        .orderBy("user_id")
    },
    Some("""WITH ranked AS (SELECT user_id, event_type, value, ts, COUNT(*) OVER (PARTITION BY user_id) AS n_ops, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn FROM events) SELECT user_id, ROUND(1e-9 + value, 6) AS last_value, ts AS last_ts, n_ops FROM ranked WHERE rn = 1 AND event_type <> 'error' ORDER BY user_id"""),
  )

  /** Per-type running totals through the Spark 4 `transformWithState`
    * API (r10e) — the arbitrary-state processor that SUPERSEDES
    * mapGroupsWithState in the 4.x line: named, individually-evolvable
    * state variables behind a `StatefulProcessorHandle` (here one
    * ValueState of exact integer moments), explicit TimeMode/TTL, and a
    * REQUIRED RocksDB state backend — i.e. the API a new 100 TB
    * stateful pipeline should be written against, witnessed end-to-end
    * next to the legacy-API key ([[statefulAgg]]). Exact arithmetic
    * discipline matches that key: values ride as integer micros, so the
    * state fold is order-free and the oracle is the plain batch
    * aggregate.
    */
  private class TypeRunningTotals
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, Long), (String, Long, Long, Long)] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var st: ValueState[(Long, Long, Long)] = _
    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long, Long)]("totals",
        org.apache.spark.sql.Encoders.product[(Long, Long, Long)], TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[(String, Long)],
        tv: TimerValues): Iterator[(String, Long, Long, Long)] = {
      var (n, sum, mx) = if (st.exists()) st.get() else (0L, 0L, Long.MinValue)
      rows.foreach { case (_, m) => n += 1; sum += m; if (m > mx) mx = m }
      st.update((n, sum, mx))
      Iterator.single((key, n, sum, mx))
    }
  }

  private val transformWithStateOp = Op(
    "stream_transform_with_state",
    (s, sf) => withStateParts(s, 8) {
      Tables.withConfs(s, Seq(
        // transformWithState REQUIRES the RocksDB provider — which is
        // also the backend the family documents for 100 TB state.
        "spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")) {
        import s.implicits._
        import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
        val src = eventsStream(s, sf)
          .select(col("event_type"),
            expr("cast(cast(value as decimal(18,6)) * 1000000 as bigint)").as("micros"))
          .as[(String, Long)]
        val out = src.groupByKey(_._1)
          .transformWithState(new TypeRunningTotals, TimeMode.None(),
            OutputMode.Update())
        runToCompletion(s,
            out.toDF("event_type", "n_events", "sum_micros", "max_micros"),
            "update")
          .select(col("event_type"), col("n_events"),
            r6(col("sum_micros") / 1000000.0).as("sum_value"),
            r6(col("max_micros") / 1000000.0).as("max_value"))
          .orderBy("event_type")
      }
    },
    Some("""SELECT event_type, COUNT(*) AS n_events, ROUND(1e-9 + CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_value, ROUND(1e-9 + CAST(MAX(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS max_value FROM events GROUP BY event_type ORDER BY event_type"""),
  )

  /** CHECKPOINT-RESTART recovery (r11, the r10 verdict's item 5): the one
    * property checkpoints exist for, which none of the other 12 streaming
    * keys witnessed — a SECOND streaming query resuming from the first's
    * checkpoint produces exactly-once totals over the combined input,
    * with no reprocessing of data the first query committed.
    *
    * Mechanics: the events table is staged into a private source
    * directory in two time-ordered files (first half of the time span,
    * then the rest — time-split so no phase-2 row is ever late behind
    * phase-1's final watermark, which would make drops legitimate and
    * the batch dual wrong). Query 1 runs a 30-minute tumbling windowed
    * aggregate (1 h watermark, append mode) over file 1 to completion
    * against a checkpoint; query 2 starts FRESH from that same
    * checkpoint after file 2 lands. The windows straddling the cut are
    * open (unemitted) state in the checkpoint — query 2 must restore
    * them, fold in phase-2 rows, and emit each window exactly once. The
    * sink is the idempotent foreachBatch parquet-per-batch-id pattern
    * (batch ids continue across the restart, from the checkpoint's
    * commit log). Oracle = the closed-window batch dual over the WHOLE
    * events table — any re-read (double counts), loss (missing
    * windows), or double emission (duplicate rows) breaks the hash.
    * StreamingRestartSpec additionally asserts from the checkpoint's
    * own source log that no input file was committed twice.
    */
  private[graft] def restartRecoveryRun(s: SparkSession, sf: String): (DataFrame, String) = {
    import org.apache.spark.sql.streaming.StreamingQuery
    val base = Tables.tmp("graft_stream_restart/") +
      s"${sf.replaceAll("[^a-zA-Z0-9.]", "_")}/${runId.incrementAndGet()}"
    // The per-JVM runId restarts at 1, so a prior process may have left
    // artifacts at this path — a stale checkpoint would make the "fresh"
    // first query itself a restart. Clean slate per invocation.
    Tables.rmTree(new java.io.File(base))
    val (inDir, ckpt, out) = (s"$base/in", s"$base/ckpt", s"$base/out")
    val ev = Tables.events(s, sf)
    // Midpoint of the observed time span — deterministic, one bounded row.
    val Array(cutRow) = ev.agg(
      expr("(min(unix_micros(ts)) + max(unix_micros(ts))) div 2").as("cut")).collect()
    val cutUs = cutRow.getLong(0)
    ev.filter(expr(s"unix_micros(ts) < ${cutUs}L")).write.parquet(s"$inDir/p1")
    val schema = Tables.parquet(s, s"$inDir/p1").schema
    def runQ(): Unit = {
      val q: StreamingQuery = s.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet").parquet(s"$inDir/*")
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), r6(sum(dec(col("value"))).cast("double")).as("sum_value"))
        .select(col("window.start").as("win_start"), col("event_type"),
          col("n"), col("sum_value"))
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          batch.write.mode("overwrite").parquet(s"$out/batch_id=$batchId")
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    withStateParts(s, 8) {
      runQ() // session 1: first half, runs to completion, emits its closed windows
      ev.filter(expr(s"unix_micros(ts) >= ${cutUs}L")).write.parquet(s"$inDir/p2")
      runQ() // session 2: SAME checkpoint — restores state, processes only p2
    }
    (Tables.parquet(s, out)
      .select("win_start", "event_type", "n", "sum_value")
      .orderBy("win_start", "event_type"), ckpt)
  }

  private val restartRecovery = Op(
    "stream_restart_recovery",
    (s, sf) => restartRecoveryRun(s, sf)._1,
    Some("""WITH m AS (SELECT (epoch_ms(MAX(ts)) - 3600000) * 1000 AS wm_us FROM events) SELECT CAST(to_timestamp(floor(epoch(ts) / 1800) * 1800) AS TIMESTAMP) AS win_start, event_type, COUNT(*) AS n, ROUND(1e-9 + CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_value FROM events, m WHERE epoch_us(to_timestamp(floor(epoch(ts) / 1800) * 1800) + INTERVAL 30 MINUTE) <= wm_us GROUP BY 1, 2 ORDER BY win_start, event_type"""),
  )

  /** STREAMING UPSERT through MERGE INTO (r12) — the production CDC
    * sink pattern the warehouse engines call "streaming merge": each
    * micro-batch aggregates its delta and MERGEs it into a persistent
    * v2 table ([[graft.sources.MemCatalog]] — the same
    * SupportsRowLevelOperations door `sql_merge_into` witnesses),
    * composing state ACROSS batches in the TABLE rather than in the
    * state store — the idiom for upserts too large or too long-lived
    * for watermark-bounded streaming state. The events table is staged
    * in two parity-split files and read with maxFilesPerTrigger=1, so
    * the merge genuinely composes over 2 micro-batches: a user seen in
    * both halves takes the MATCHED += path in batch 2 (count addition
    * and greatest(ts) commute, so batch order cannot matter). The
    * target is pre-seeded with the even-custkey half of the customer
    * dimension — seeded users exercise MATCHED from batch 1, unseeded
    * ones NOT MATCHED; seeded users with no events prove the merge
    * never touches unaffected rows. Oracle: the final state is a FULL
    * OUTER of the seed against the batch-independent per-user event
    * aggregate.
    */
  private val mergeUpsert = Op(
    "stream_merge_upsert",
    (s, sf) => withStateParts(s, 8) {
      s.conf.set("spark.sql.catalog.graft_mem", "graft.sources.MemCatalog")
      val base = Tables.tmp("graft_stream_merge/") +
        s"${sf.replaceAll("[^a-zA-Z0-9.]", "_")}"
      Tables.rmTree(new java.io.File(base)) // all prior runs at this sf
      val dir = s"$base/${runId.incrementAndGet()}"
      val inDir = s"$dir/in"
      val ev = Tables.events(s, sf)
      // coalesce(1): the 2-file → 2-micro-batch contract under
      // maxFilesPerTrigger=1 must be structural, not an accident of the
      // events read planning one partition per half (r12 ADVICE).
      ev.filter(pmod(col("event_id"), lit(2)) === 0).coalesce(1).write.parquet(s"$inDir/p1")
      ev.filter(pmod(col("event_id"), lit(2)) === 1).coalesce(1).write.parquet(s"$inDir/p2")
      val schema = Tables.parquet(s, s"$inDir/p1").schema
      val tgt = "graft_mem.staging.stream_user_state"
      s.sql(s"DROP TABLE IF EXISTS $tgt")
      s.sql(s"CREATE TABLE $tgt (k BIGINT, n_events BIGINT, last_ts TIMESTAMP)")
      Tables.customer(s, sf).filter(pmod(col("c_custkey"), lit(2)) === 0)
        .select(col("c_custkey").as("k"), lit(0L).as("n_events"),
          lit(null).cast("timestamp").as("last_ts"))
        .createOrReplaceTempView("graft_merge_seed")
      s.sql(s"INSERT INTO $tgt SELECT k, n_events, last_ts FROM graft_merge_seed")
      val q = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1) // 2 staged files → 2 micro-batches
        .option("pathGlobFilter", "*.parquet").parquet(s"$inDir/*")
        .writeStream
        .option("checkpointLocation", s"$dir/ckpt")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val ss = batch.sparkSession
          batch.groupBy(col("user_id").as("k"))
            .agg(count(lit(1)).as("n"), max(col("ts")).as("mx"))
            .createOrReplaceTempView("graft_merge_batch")
          ss.sql(s"""
            MERGE INTO $tgt t USING graft_merge_batch b ON t.k = b.k
            WHEN MATCHED THEN UPDATE
              SET n_events = t.n_events + b.n, last_ts = greatest(t.last_ts, b.mx)
            WHEN NOT MATCHED THEN INSERT (k, n_events, last_ts) VALUES (b.k, b.n, b.mx)
          """): Unit
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.sql(s"SELECT k, n_events, last_ts FROM $tgt ORDER BY k")
    },
    Some("""WITH agg AS (SELECT user_id AS k, COUNT(*) AS n, MAX(ts) AS mx FROM events GROUP BY 1), seed AS (SELECT c_custkey AS k FROM customer WHERE c_custkey % 2 = 0) SELECT COALESCE(seed.k, agg.k) AS k, COALESCE(agg.n, 0) AS n_events, agg.mx AS last_ts FROM seed FULL OUTER JOIN agg ON seed.k = agg.k ORDER BY k"""),
  )

  val ops: Seq[Op] = Seq(tumblingCounts, slidingAvg, sessionWindow,
    appendWindowed, dedupWatermark, statefulAgg, foreachBatchSink, staticJoin,
    streamStreamJoin, cdcApply, transformWithStateOp, restartRecovery,
    mergeUpsert)
}
