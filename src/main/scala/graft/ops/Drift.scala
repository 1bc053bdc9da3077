package graft.ops

import graft.{Op, OpGroup, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** §2.O (round 9) — distribution-drift statistics: the monitoring gates a
  * production pipeline runs between ingestion batches (did this week's
  * data shift under the model?). Three classical tests, each formulated
  * over AGGREGATED relations only (value-NDV / bin / contingency-cell
  * bounded), so the expensive pass is always one linear hash-agg of the
  * fact table and the test statistic itself is window math over rows
  * that fit anywhere. Reference analog: cobradb's load-time sanity
  * queries (model_loading.py's count checks) — generalized to the
  * statistical screens a 100 TB training-data lake actually needs.
  */
object Drift extends OpGroup {
  import parity.{dec, dec38, r6}

  /** Two-sample Kolmogorov-Smirnov drift test: event values in the first
    * half of the corpus window (ts < Jan 16) vs the second half. EXACT
    * and engine-portable by integer arithmetic: group by the (already
    * 2-decimal) value → per-sample counts; the ECDF difference at value
    * v is |ca·NB − cb·NA| / (NA·NB), computed in LONG numerators so the
    * argmax over buckets has no float ties — the division to a double
    * happens once, on the winning row. Scale shape: one conditional
    * hash-agg of events (linear, map-side combined), then a running-sum
    * window over the value-NDV-bounded bucket relation (coarsen the
    * bucketing to cap NDV at petabyte scale; the statistic degrades
    * gracefully to the binned-ECDF KS).
    */
  private val ksDrift = Op(
    "stats_ks_drift",
    (s, sf) => {
      val cut = lit("2024-01-16").cast("timestamp")
      val g = Tables.events(s, sf)
        .groupBy("value")
        .agg(sum(when(col("ts") < cut, 1L).otherwise(0L)).as("na"),
          sum(when(col("ts") >= cut, 1L).otherwise(0L)).as("nb"))
      val tot = g.agg(sum("na").as("tna"), sum("nb").as("tnb"))
      val w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, Window.currentRow)
      g.select(col("value"), sum("na").over(w).as("ca"), sum("nb").over(w).as("cb"))
        .crossJoin(tot)
        .withColumn("dnum", abs(col("ca") * col("tnb") - col("cb") * col("tna")))
        .orderBy(col("dnum").desc, col("value").asc)
        .limit(1)
        .select(col("tna").as("n_a"), col("tnb").as("n_b"),
          r6(col("dnum").cast("double") / (col("tna") * col("tnb")).cast("double")).as("ks_stat"),
          col("value").as("at_value"))
    },
    Some("""WITH g AS (SELECT value, SUM(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END) AS na, SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END) AS nb FROM events GROUP BY value), c AS (SELECT value, CAST(SUM(na) OVER (ORDER BY value) AS BIGINT) AS ca, CAST(SUM(nb) OVER (ORDER BY value) AS BIGINT) AS cb FROM g), t AS (SELECT CAST(SUM(na) AS BIGINT) AS tna, CAST(SUM(nb) AS BIGINT) AS tnb FROM g) SELECT tna AS n_a, tnb AS n_b, ROUND(1e-9 + ABS(ca * tnb - cb * tna) / CAST(tna * tnb AS DOUBLE), 6) AS ks_stat, value AS at_value FROM c, t ORDER BY ABS(ca * tnb - cb * tna) DESC, value ASC LIMIT 1"""),
  )

  /** Population Stability Index between week 1 (reference) and week 4
    * (current) of the event stream: 10 equi-width bins anchored on the
    * REFERENCE week's min/max (the deployed-model convention — the bin
    * edges are frozen with the reference), out-of-range current values
    * clamped into the edge bins. Laplace-smoothed shares (+0.5/+5) keep
    * ln finite on empty bins. Float parity: the bin index is a floor of
    * the identical double expression on both engines; shares and the
    * ln argument are rounded to 6 decimals BEFORE ln (charlm's
    * discipline — both engines feed libm the same double), and the PSI
    * total is a decimal sum of rounded per-bin contributions. Scale
    * shape: two linear conditional aggs + window math over 10 rows.
    */
  private val psiDrift = Op(
    "stats_psi_drift",
    (s, sf) => {
      val ev = Tables.events(s, sf)
      val isRef = col("ts") < lit("2024-01-08").cast("timestamp")
      val isCur = col("ts") >= lit("2024-01-22").cast("timestamp") &&
        col("ts") < lit("2024-01-29").cast("timestamp")
      val edges = ev.filter(isRef).agg(min("value").as("mn"), max("value").as("mx"))
      val binned = ev.filter(isRef || isCur).crossJoin(broadcast(edges))
        .withColumn("bin", least(lit(9), greatest(lit(0),
          floor((col("value") - col("mn")) * lit(10.0) / (col("mx") - col("mn"))).cast("int"))))
        .groupBy("bin")
        .agg(sum(when(isRef, 1L).otherwise(0L)).as("n_ref"),
          sum(when(isCur, 1L).otherwise(0L)).as("n_cur"))
      val spine = edges.select(explode(sequence(lit(0), lit(9))).as("bin"))
      val tot = binned.agg(sum("n_ref").as("tr"), sum("n_cur").as("tc"))
      val filled = spine.join(binned, Seq("bin"), "left")
        .select(col("bin"), coalesce(col("n_ref"), lit(0L)).as("n_ref"),
          coalesce(col("n_cur"), lit(0L)).as("n_cur"))
        .crossJoin(tot)
        .withColumn("p", r6((col("n_ref") + lit(0.5)) / (col("tr") + lit(5.0))))
        .withColumn("q", r6((col("n_cur") + lit(0.5)) / (col("tc") + lit(5.0))))
        // greatest(·, 1e-6): the ratio is rounded to 6 decimals, so its
        // smallest positive value IS 1e-6 — a ratio that rounds to 0
        // (possible once tr ≥ ~1e6: p ≈ 0.5/tr underflows the rounding)
        // clamps to it instead of feeding ln(0) → NULL (Spark) /
        // -inf (DuckDB), which would silently drop the bin from the
        // decimal total. Bounded error on an already-saturated bin.
        .withColumn("psi_contrib", r6((col("p") - col("q")) *
          log(greatest(r6(col("p") / col("q")), lit(1e-6)))))
      filled
        .withColumn("psi_total",
          sum(dec(col("psi_contrib"))).over(Window.partitionBy()).cast("double"))
        .select("bin", "n_ref", "n_cur", "psi_contrib", "psi_total")
        .orderBy("bin")
    },
    Some("""WITH e AS (SELECT value, ts < TIMESTAMP '2024-01-08' AS is_ref, ts >= TIMESTAMP '2024-01-22' AND ts < TIMESTAMP '2024-01-29' AS is_cur FROM events), edges AS (SELECT MIN(value) AS mn, MAX(value) AS mx FROM e WHERE is_ref), b AS (SELECT LEAST(9, GREATEST(0, CAST(FLOOR((value - mn) * 10.0 / (mx - mn)) AS INT))) AS bin, SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS n_ref, SUM(CASE WHEN is_cur THEN 1 ELSE 0 END) AS n_cur FROM e, edges WHERE is_ref OR is_cur GROUP BY 1), t AS (SELECT SUM(n_ref) AS tr, SUM(n_cur) AS tc FROM b), f AS (SELECT s.bin, CAST(COALESCE(b.n_ref, 0) AS BIGINT) AS n_ref, CAST(COALESCE(b.n_cur, 0) AS BIGINT) AS n_cur FROM (SELECT unnest(generate_series(0, 9)) AS bin) s LEFT JOIN b ON b.bin = s.bin), c AS (SELECT bin, n_ref, n_cur, ROUND(1e-9 + (p - q) * ln(GREATEST(ROUND(1e-9 + p / q, 6), 1e-6)), 6) AS psi_contrib FROM (SELECT bin, n_ref, n_cur, ROUND(1e-9 + (n_ref + 0.5) / (tr + 5.0), 6) AS p, ROUND(1e-9 + (n_cur + 0.5) / (tc + 5.0), 6) AS q FROM f, t) z) SELECT bin, n_ref, n_cur, psi_contrib, CAST(SUM(CAST(psi_contrib AS DECIMAL(18, 6))) OVER () AS DOUBLE) AS psi_total FROM c ORDER BY bin"""),
  )

  /** Chi-square test of independence, event_type × day-of-week: is the
    * event mix stable across the weekly cycle? Observed counts are one
    * hash-agg of events; row/column/grand totals are window sums over
    * the ≤ |types|·7-cell contingency relation; expected = rt·ct/N and
    * the per-cell contribution (O−E)²/E are identical double
    * expressions both engines, rounded and decimal-summed to the
    * statistic. day-of-week parity: Spark `dayofweek` is 1=Sunday..7;
    * DuckDB `dayofweek` is 0=Sunday..6, so the oracle adds 1.
    */
  private val chisq = Op(
    "stats_chisq_independence",
    (s, sf) => {
      val o = Tables.events(s, sf)
        .groupBy(col("event_type"), dayofweek(col("ts")).as("dow"))
        .agg(count(lit(1)).as("observed"))
      val wr = Window.partitionBy("event_type")
      val wc = Window.partitionBy("dow")
      val wAll = Window.partitionBy()
      o.withColumn("rt", sum("observed").over(wr))
        .withColumn("ct", sum("observed").over(wc))
        .withColumn("n", sum("observed").over(wAll))
        .withColumn("e", col("rt").cast("double") * col("ct") / col("n"))
        .withColumn("expected", r6(col("e")))
        .withColumn("contrib",
          r6((col("observed") - col("e")) * (col("observed") - col("e")) / col("e")))
        .withColumn("chi2_total", sum(dec(col("contrib"))).over(wAll).cast("double"))
        .select("event_type", "dow", "observed", "expected", "contrib", "chi2_total")
        .orderBy("event_type", "dow")
    },
    Some("""WITH o AS (SELECT event_type, dayofweek(ts) + 1 AS dow, COUNT(*) AS observed FROM events GROUP BY 1, 2), x AS (SELECT event_type, dow, CAST(observed AS BIGINT) AS observed, CAST(SUM(observed) OVER (PARTITION BY event_type) AS DOUBLE) * CAST(SUM(observed) OVER (PARTITION BY dow) AS BIGINT) / CAST(SUM(observed) OVER () AS BIGINT) AS e FROM o) SELECT event_type, dow, observed, ROUND(1e-9 + e, 6) AS expected, ROUND(1e-9 + (observed - e) * (observed - e) / e, 6) AS contrib, CAST(SUM(CAST(ROUND(1e-9 + (observed - e) * (observed - e) / e, 6) AS DECIMAL(18, 6))) OVER () AS DOUBLE) AS chi2_total FROM x ORDER BY event_type, dow"""),
  )

  /** Mann-Whitney U rank-sum test on the same first-half/second-half
    * split as [[ksDrift]] — the LOCATION-shift screen next to KS's
    * any-shape one (rank-based, so one fat-tailed outlier can't swamp
    * it the way it would a t-test). Everything up to the final z is
    * INTEGER arithmetic on the value-bucket relation: with per-bucket
    * counts (na, nb) and exclusive running total cb, the doubled
    * average rank is ar2 = 2·cb + na + nb + 1 exactly, so 2·R1 =
    * Σ na·ar2 and 2·U1 = 2·R1 − n1(n1+1) are exact longs and U itself
    * an exact half-integer double. The tie-corrected normal
    * approximation (σ² = n1n2/12 · [(n+1) − Σ(t³−t)/(n(n−1))]) is one
    * identical double expression both engines, rounded once. Scale
    * shape: same as KS — one linear conditional agg, window math over
    * the NDV-bounded bucket relation, a 1-row result.
    */
  private val mannWhitney = Op(
    "stats_mannwhitney_u",
    (s, sf) => {
      val cut = lit("2024-01-16").cast("timestamp")
      val g = Tables.events(s, sf)
        .groupBy("value")
        .agg(sum(when(col("ts") < cut, 1L).otherwise(0L)).as("na"),
          sum(when(col("ts") >= cut, 1L).otherwise(0L)).as("nb"))
      val w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, -1)
      g.withColumn("cb", coalesce(sum(col("na") + col("nb")).over(w), lit(0L)))
        .withColumn("ar2", lit(2) * col("cb") + col("na") + col("nb") + lit(1))
        .withColumn("t", col("na") + col("nb"))
        .agg(sum("na").as("n1"), sum("nb").as("n2"),
          sum(col("na") * col("ar2")).as("r1x2"),
          sum(col("t") * col("t") * col("t") - col("t")).as("ties"))
        .select(col("n1").as("n_a"), col("n2").as("n_b"),
          ((col("r1x2") - col("n1") * (col("n1") + 1)).cast("double") / lit(2.0)).as("u_stat"),
          r6(((col("r1x2") - col("n1") * (col("n1") + 1)).cast("double") / lit(2.0)
            - col("n1").cast("double") * col("n2") / lit(2.0)) /
            sqrt(col("n1").cast("double") * col("n2") / lit(12.0) *
              ((col("n1") + col("n2") + lit(1)).cast("double")
                - col("ties").cast("double") /
                  ((col("n1") + col("n2")).cast("double") * (col("n1") + col("n2") - lit(1)))))).as("z_score"))
    },
    Some("""WITH g AS (SELECT value, SUM(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END) AS na, SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END) AS nb FROM events GROUP BY value), c AS (SELECT value, na, nb, CAST(COALESCE(SUM(na + nb) OVER (ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb, na + nb AS t FROM g), a AS (SELECT CAST(SUM(na) AS BIGINT) AS n1, CAST(SUM(nb) AS BIGINT) AS n2, CAST(SUM(na * (2 * cb + na + nb + 1)) AS BIGINT) AS r1x2, CAST(SUM(t * t * t - t) AS BIGINT) AS ties FROM c) SELECT n1 AS n_a, n2 AS n_b, CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE) / 2.0 AS u_stat, ROUND(1e-9 + (CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE) / 2.0 - CAST(n1 AS DOUBLE) * n2 / 2.0) / sqrt(CAST(n1 AS DOUBLE) * n2 / 12.0 * (CAST(n1 + n2 + 1 AS DOUBLE) - CAST(ties AS DOUBLE) / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2 - 1)))), 6) AS z_score FROM a"""),
  )

  /** Shannon entropy of the daily event-type mix (r9c) — the
    * concentration screen next to the location (Mann-Whitney), shape
    * (KS) and binned-share (PSI) tests: a day whose traffic collapses
    * into one event type (entropy → 0) or spreads uniformly (entropy →
    * ln k) is flagged without naming any type — the standard mix-shift
    * monitor for ingestion pipelines. One linear hash-agg of events to
    * the (day, type) contingency relation; shares, their logs and the
    * per-day sums are window math over ≤|days|·|types| rows. Parity:
    * shares rounded BEFORE ln (the PSI/charlm discipline — both engines
    * feed libm the same double), contributions rounded then
    * decimal-summed; the normalized column divides by ln(k) of the
    * day's own type count, NULL for single-type days in both engines
    * via the guarded divide.
    */
  private val entropyDaily = Op(
    "stats_entropy_daily",
    (s, sf) => {
      val byType = Tables.events(s, sf)
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
      val wDay = Window.partitionBy("day")
      byType
        .withColumn("tot", sum("cnt").over(wDay))
        .withColumn("k", count(lit(1)).over(wDay))
        .withColumn("p", r6(col("cnt").cast("double") / col("tot")))
        .withColumn("contrib", r6(-col("p") * log(col("p"))))
        .groupBy("day")
        .agg(max("k").cast("long").as("n_types"), max("tot").as("n_events"),
          sum(dec(col("contrib"))).cast("double").as("entropy"))
        .withColumn("norm_entropy",
          r6(col("entropy") / when(col("n_types") > 1, log(col("n_types").cast("double")))))
        .orderBy("day")
    },
    Some("""WITH c AS (SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS cnt FROM events GROUP BY 1, 2), x AS (SELECT day, cnt, SUM(cnt) OVER (PARTITION BY day) AS tot, COUNT(*) OVER (PARTITION BY day) AS k FROM c), y AS (SELECT day, k, tot, ROUND(1e-9 + -ROUND(1e-9 + cnt / CAST(tot AS DOUBLE), 6) * ln(ROUND(1e-9 + cnt / CAST(tot AS DOUBLE), 6)), 6) AS contrib FROM x), z AS (SELECT day, CAST(MAX(k) AS BIGINT) AS n_types, CAST(MAX(tot) AS BIGINT) AS n_events, CAST(SUM(CAST(contrib AS DECIMAL(18,6))) AS DOUBLE) AS entropy FROM y GROUP BY day) SELECT day, n_types, n_events, entropy, ROUND(1e-9 + entropy / CASE WHEN n_types > 1 THEN ln(CAST(n_types AS DOUBLE)) END, 6) AS norm_entropy FROM z ORDER BY day"""),
  )

  /** Welch's two-sample t-test (r9d) — the unequal-variance mean-shift
    * test completing the drift battery: KS (shape), PSI (binned shares),
    * chi-squared (categorical mix), Mann-Whitney (rank location),
    * entropy (concentration), and now the parametric mean test with the
    * Welch-Satterthwaite degrees of freedom. Same first/second-half
    * split as KS. ONE linear pass: conditional count / Σx / Σx² per
    * side in a single hash-agg (mergeable moments — the 1000-executor
    * formulation, no second scan for the variance); x² is rounded then
    * decimal-summed (rulebook §7.3: value has 2 decimals, so x² has 4 —
    * r6 loses nothing and pins both engines to the same summand).
    * Means, variances, t and df are then one scalar expression over the
    * exact decimal moments — both engines evaluate the identical IEEE
    * chain, rounded once at the end.
    */
  private val welchTtest = Op(
    "stats_welch_ttest",
    (s, sf) => {
      val cut = lit("2024-01-16").cast("timestamp")
      val m = Tables.events(s, sf).agg(
        sum(when(col("ts") < cut, 1L).otherwise(0L)).as("n1"),
        sum(when(col("ts") < cut, dec(col("value")))).as("sx1"),
        sum(when(col("ts") < cut, dec(r6(col("value") * col("value"))))).as("sxx1"),
        sum(when(col("ts") >= cut, 1L).otherwise(0L)).as("n2"),
        sum(when(col("ts") >= cut, dec(col("value")))).as("sx2"),
        sum(when(col("ts") >= cut, dec(r6(col("value") * col("value"))))).as("sxx2"))
      val m1 = col("sx1").cast("double") / col("n1")
      val m2 = col("sx2").cast("double") / col("n2")
      val v1 = (col("sxx1").cast("double") - col("n1") * m1 * m1) / (col("n1") - 1)
      val v2 = (col("sxx2").cast("double") - col("n2") * m2 * m2) / (col("n2") - 1)
      val se2 = v1 / col("n1") + v2 / col("n2")
      m.select(
        col("n1").as("n_a"), col("n2").as("n_b"),
        r6(m1).as("mean_a"), r6(m2).as("mean_b"),
        r6(sqrt(v1)).as("sd_a"), r6(sqrt(v2)).as("sd_b"),
        r6((m1 - m2) / sqrt(se2)).as("t_stat"),
        r6(se2 * se2 / ((v1 / col("n1")) * (v1 / col("n1")) / (col("n1") - 1)
          + (v2 / col("n2")) * (v2 / col("n2")) / (col("n2") - 1))).as("df"))
    },
    Some("""WITH m AS (SELECT SUM(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END) AS n1, SUM(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN CAST(value AS DECIMAL(18,6)) END) AS sx1, SUM(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN CAST(ROUND(1e-9 + value * value, 6) AS DECIMAL(18,6)) END) AS sxx1, SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END) AS n2, SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN CAST(value AS DECIMAL(18,6)) END) AS sx2, SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN CAST(ROUND(1e-9 + value * value, 6) AS DECIMAL(18,6)) END) AS sxx2 FROM events), x AS (SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2, CAST(sx1 AS DOUBLE) / n1 AS m1, CAST(sx2 AS DOUBLE) / n2 AS m2, (CAST(sxx1 AS DOUBLE) - n1 * (CAST(sx1 AS DOUBLE) / n1) * (CAST(sx1 AS DOUBLE) / n1)) / (n1 - 1) AS v1, (CAST(sxx2 AS DOUBLE) - n2 * (CAST(sx2 AS DOUBLE) / n2) * (CAST(sx2 AS DOUBLE) / n2)) / (n2 - 1) AS v2 FROM m) SELECT n1 AS n_a, n2 AS n_b, ROUND(1e-9 + m1, 6) AS mean_a, ROUND(1e-9 + m2, 6) AS mean_b, ROUND(1e-9 + sqrt(v1), 6) AS sd_a, ROUND(1e-9 + sqrt(v2), 6) AS sd_b, ROUND(1e-9 + (m1 - m2) / sqrt(v1 / n1 + v2 / n2), 6) AS t_stat, ROUND(1e-9 + (v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2) / ((v1 / n1) * (v1 / n1) / (n1 - 1) + (v2 / n2) * (v2 / n2) / (n2 - 1)), 6) AS df FROM x"""),
  )

  /** Poissonized hash bootstrap (r9e) — a 95% CI for each event type's
    * mean value from B = 100 resamples, fully DETERMINISTIC and
    * engine-portable: replica b gives row i the weight
    * Poisson⁻¹(md5(event_id, b) / 2²⁸) via the stepped CDF (the
    * standard online-bootstrap approximation of multinomial resampling
    * — Oza & Russell 2001), so there is no rand() and no collect; the
    * same pipeline at 1000 executors is ONE explode (×B) + ONE
    * map-side-combinable hash-agg whose shuffle carries types·B cells,
    * not rows. Replica means divide exact decimal Σw·x by integer Σw;
    * the CI picks ranks 3 and 98 of the 100 replica means over the
    * (mean, b) total order — the 95% percentile-bootstrap interval
    * with no float tie exposure.
    */
  private val bootstrapCi = Op(
    "stats_bootstrap_ci",
    (s, sf) => {
      val B = 100
      val ev = Tables.events(s, sf).select(col("event_id"), col("event_type"), col("value"))
      // The ×B explode multiplies whatever parallelism the scan had — a
      // single-file fixture would put all n·B md5 rows on one thread, so
      // spread BEFORE exploding (measured: 15.6 s → per-core time at
      // sf0.1). At cluster scale the scan is already multi-split and
      // this repartition is a cheap row-count-preserving round-robin.
      val rep = Tables.spread(s, ev)
        .select(col("event_type"), col("value"),
          concat(col("event_id").cast("string"), lit("_")).as("idp"),
          explode(expr(s"sequence(1, $B)")).as("b"))
        .withColumn("u", conv(substring(md5(concat(col("idp"), col("b").cast("string"))), 1, 7), 16, 10)
          .cast("bigint").cast("double") / lit(268435456.0))
        .withColumn("w",
          when(col("u") < 0.367879, 0L).when(col("u") < 0.735759, 1L)
            .when(col("u") < 0.919699, 2L).when(col("u") < 0.981012, 3L)
            .when(col("u") < 0.99634, 4L).otherwise(5L))
        .groupBy(col("event_type"), col("b"))
        .agg(sum(dec(col("value")) * col("w")).as("swx"), sum(col("w")).as("sw"))
        .select(col("event_type"), col("b"),
          r6(col("swx").cast("double") / col("sw")).as("bmean"))
      // Rank picks as ONE aggregation (r16, the r15 verdict's item 3):
      // the former row_number window was referenced TWICE (rk=3 / rk=98
      // filters), so the physical plan carried two copies of the whole
      // ranked subtree joined back onto the point stats — 8 exchanges
      // and one AQE job per stage for a 500-row relation. Sorting the
      // ≤B-element replica-mean list per type inside a single hash agg
      // picks both ranks in one pass: element k of
      // sort_array(struct(bmean, b)) IS row_number orderBy(bmean, b)
      // rank k — identical total order, identical picks (oracle
      // re-proven at sf0.01 + sf0.1).
      // Ranks 3 and 98 of 100 (0-based 2 and 97), derived from B. A
      // list of any other length fails the query instead of reading
      // null CIs off the wrong grid.
      val (lo, hi) = ((B * 0.025).toInt, B - 1 - (B * 0.025).toInt)
      val ci = rep.groupBy("event_type")
        .agg(sort_array(collect_list(struct(col("bmean"), col("b")))).as("ms"))
        .select(col("event_type"),
          when(size(col("ms")) === B, col("ms"))
            .otherwise(raise_error(lit(s"stats_bootstrap_ci: expected $B replica means per event type")))
            .as("ms"))
        .select(col("event_type"),
          col("ms").getItem(lo).getField("bmean").as("ci_lo"),
          col("ms").getItem(hi).getField("bmean").as("ci_hi"))
      val point = ev.groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          r6(sum(dec(col("value"))).cast("double") / count(lit(1))).as("mean"))
      point.join(ci, "event_type")
        .select(col("event_type"), col("n"), col("mean"), col("ci_lo"), col("ci_hi"))
        .orderBy("event_type")
    },
    Some("""WITH rep AS (SELECT event_type, b, ROUND(1e-9 + CAST(SUM(CAST(value AS DECIMAL(18,6)) * w) AS DOUBLE) / SUM(w), 6) AS bmean FROM (SELECT event_type, value, b, CASE WHEN u < 0.367879 THEN 0 WHEN u < 0.735759 THEN 1 WHEN u < 0.919699 THEN 2 WHEN u < 0.981012 THEN 3 WHEN u < 0.99634 THEN 4 ELSE 5 END AS w FROM (SELECT event_type, value, b, CAST(concat('0x', substr(md5(concat(CAST(event_id AS VARCHAR), '_', CAST(b AS VARCHAR))), 1, 7)) AS BIGINT) / 268435456.0 AS u FROM events, (SELECT unnest(generate_series(1, 100)) AS b) g) t) t2 GROUP BY 1, 2), r AS (SELECT event_type, bmean, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY bmean, b) AS rk FROM rep), p AS (SELECT event_type, COUNT(*) AS n, ROUND(1e-9 + CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS mean FROM events GROUP BY 1) SELECT p.event_type, CAST(p.n AS BIGINT) AS n, p.mean, lo.bmean AS ci_lo, hi.bmean AS ci_hi FROM p JOIN r lo ON lo.event_type = p.event_type AND lo.rk = 3 JOIN r hi ON hi.event_type = p.event_type AND hi.rk = 98 ORDER BY p.event_type"""),
  )

  /** Median absolute deviation outlier screen (r9e) — the robust-scale
    * sibling of `stats_iqr_outliers`: median and MAD per event type,
    * outliers flagged beyond 3 robust sigmas (3·1.4826·MAD). Both
    * medians ride the value-NDV-bounded relation: one hash-agg of
    * events to (type, value, cnt), then the lower-median rank pick
    * (the `agg_weighted_median` convention) — applied twice, the
    * second time over the derived |value − median| relation, which is
    * exact 2-decimal arithmetic. The threshold is rounded once; the
    * count compares the identical doubles on both engines.
    */
  private val madOutliers = Op(
    "stats_mad_outliers",
    (s, sf) => {
      val g = Tables.events(s, sf)
        .groupBy(col("event_type"), col("value"))
        .agg(count(lit(1)).as("cnt"))
      def lowerMedian(df: org.apache.spark.sql.DataFrame, valCol: String) = {
        val wRun = Window.partitionBy("event_type").orderBy(valCol)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        df.withColumn("cum", sum(col("cnt")).over(wRun))
          .withColumn("tot", sum(col("cnt")).over(Window.partitionBy("event_type")))
          .filter(col("cum") * 2 >= col("tot"))
          .withColumn("rk", row_number().over(
            Window.partitionBy("event_type").orderBy(valCol)))
          .filter(col("rk") === 1)
          .select(col("event_type"), col(valCol).as("m"))
      }
      val med = lowerMedian(g, "value").withColumnRenamed("m", "med")
      val devs = g.join(med, "event_type")
        .groupBy(col("event_type"), abs(col("value") - col("med")).as("dev"))
        .agg(sum(col("cnt")).as("cnt"))
      val mad = lowerMedian(devs, "dev").withColumnRenamed("m", "mad")
      g.join(med, "event_type").join(mad, "event_type")
        .groupBy(col("event_type"), col("med"), col("mad"))
        .agg(sum(col("cnt")).as("n"),
          sum(when(abs(col("value") - col("med")) > r6(col("mad") * 4.4478),
            col("cnt")).otherwise(0L)).as("n_outliers"))
        .select(col("event_type"), col("n"), col("med").as("median"),
          col("mad"), r6(col("mad") * 4.4478).as("threshold"), col("n_outliers"))
        .orderBy("event_type")
    },
    Some("""WITH g AS (SELECT event_type, value, COUNT(*) AS cnt FROM events GROUP BY 1, 2), med AS (SELECT event_type, value AS med FROM (SELECT event_type, value, cnt, SUM(cnt) OVER (PARTITION BY event_type ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, SUM(cnt) OVER (PARTITION BY event_type) AS tot FROM g) t WHERE cum * 2 >= tot QUALIFY ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) = 1), d AS (SELECT g.event_type, ABS(value - med) AS dev, SUM(cnt) AS cnt FROM g JOIN med ON med.event_type = g.event_type GROUP BY 1, 2), mad AS (SELECT event_type, dev AS mad FROM (SELECT event_type, dev, cnt, SUM(cnt) OVER (PARTITION BY event_type ORDER BY dev ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, SUM(cnt) OVER (PARTITION BY event_type) AS tot FROM d) t WHERE cum * 2 >= tot QUALIFY ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY dev) = 1) SELECT g.event_type, CAST(SUM(cnt) AS BIGINT) AS n, med.med AS median, mad.mad AS mad, ROUND(1e-9 + mad.mad * 4.4478, 6) AS threshold, CAST(SUM(CASE WHEN ABS(g.value - med.med) > ROUND(1e-9 + mad.mad * 4.4478, 6) THEN cnt ELSE 0 END) AS BIGINT) AS n_outliers FROM g JOIN med ON med.event_type = g.event_type JOIN mad ON mad.event_type = g.event_type GROUP BY g.event_type, med.med, mad.mad ORDER BY g.event_type"""),
  )

  /** Population skewness and excess kurtosis per event type (r9g) —
    * the shape moments that complete the one-pass moment family (Welch
    * holds moments 1–2; these need 3–4): the distribution-shape drift
    * screen (a sign flip in skewness or a kurtosis jump flags a regime
    * change even when mean and variance hold). ONE linear hash-agg
    * accumulates count and Σx…Σx⁴ — mergeable raw moments, the
    * 1000-executor formulation — with each power rounded then
    * decimal-summed (x has 2 decimals, so x² is exact at 4 and x³/x⁴
    * are pinned by r6 to identical summands on both engines; the s2..s4
    * sums are DECIMAL(38,6) on BOTH engines so a fourth-power term at
    * |value| ≥ 1000 cannot silently overflow — r10 advice).
    * Central moments, g1 = m3/m2^1.5 and excess g2 = m4/m2² − 3 are one
    * IEEE chain over the exact moments, rounded once. Population (not
    * sample-corrected) convention so the formulas are identical algebra
    * on both engines.
    */
  private val skewKurtosis = Op(
    "stats_skew_kurtosis",
    (s, sf) => {
      val m = Tables.events(s, sf).groupBy("event_type").agg(
        count(lit(1)).as("n"),
        sum(dec(col("value"))).as("s1"),
        sum(dec38(r6(col("value") * col("value")))).as("s2"),
        sum(dec38(r6(col("value") * col("value") * col("value")))).as("s3"),
        sum(dec38(r6(col("value") * col("value") * col("value") * col("value")))).as("s4"))
      val n = col("n").cast("double")
      val mu = col("s1").cast("double") / n
      val m2 = col("s2").cast("double") / n - mu * mu
      val m3 = col("s3").cast("double") / n - lit(3) * mu * (col("s2").cast("double") / n) + lit(2) * mu * mu * mu
      val m4 = col("s4").cast("double") / n - lit(4) * mu * (col("s3").cast("double") / n) +
        lit(6) * mu * mu * (col("s2").cast("double") / n) - lit(3) * mu * mu * mu * mu
      m.select(col("event_type"), col("n"),
          r6(mu).as("mean"), r6(sqrt(m2)).as("sd_pop"),
          r6(m3 / pow(m2, 1.5)).as("skewness"),
          r6(m4 / (m2 * m2) - lit(3)).as("kurtosis_excess"))
        .orderBy("event_type")
    },
    Some("""WITH m AS (SELECT event_type, COUNT(*) AS n, SUM(CAST(value AS DECIMAL(18,6))) AS s1, SUM(CAST(ROUND(1e-9 + value * value, 6) AS DECIMAL(38,6))) AS s2, SUM(CAST(ROUND(1e-9 + value * value * value, 6) AS DECIMAL(38,6))) AS s3, SUM(CAST(ROUND(1e-9 + value * value * value * value, 6) AS DECIMAL(38,6))) AS s4 FROM events GROUP BY 1), x AS (SELECT event_type, n, CAST(s1 AS DOUBLE) / n AS mu, CAST(s2 AS DOUBLE) / n AS r2, CAST(s3 AS DOUBLE) / n AS r3, CAST(s4 AS DOUBLE) / n AS r4 FROM m), c AS (SELECT event_type, n, mu, r2 - mu * mu AS m2, r3 - 3 * mu * r2 + 2 * mu * mu * mu AS m3, r4 - 4 * mu * r3 + 6 * mu * mu * r2 - 3 * mu * mu * mu * mu AS m4 FROM x) SELECT event_type, CAST(n AS BIGINT) AS n, ROUND(1e-9 + mu, 6) AS mean, ROUND(1e-9 + sqrt(m2), 6) AS sd_pop, ROUND(1e-9 + m3 / pow(m2, 1.5), 6) AS skewness, ROUND(1e-9 + m4 / (m2 * m2) - 3, 6) AS kurtosis_excess FROM c ORDER BY event_type"""),
  )

  /** Daily latency-style percentile bands (r9g) — exact p50/p90/p99 of
    * value per (event_type, day): the SLO dashboard relation, and the
    * generalization of the lower-median rank pick to arbitrary
    * quantiles — one explode over the α set turns the same
    * cum·1/α ≥ tot threshold into all three bands in one window pass.
    * The fact scan reduces to the (type, day, value, cnt) relation
    * (value-NDV-bounded per cell); the window runs per (type, day, α)
    * — thousands of small partitions, parallel anywhere. Lower-value
    * convention (smallest value whose cumulative count reaches α·n,
    * integer cross-multiplication cum·100 ≥ α%·tot — no float
    * anywhere until output), matching the weighted-median discipline.
    */
  private val dailyPercentiles = Op(
    "stats_daily_percentile_bands",
    (s, sf) => {
      val g = Tables.events(s, sf)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"), col("value"))
        .agg(count(lit(1)).as("cnt"))
      val wRun = Window.partitionBy("event_type", "day").orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = g
        .withColumn("cum", sum(col("cnt")).over(wRun))
        .withColumn("tot", sum(col("cnt")).over(Window.partitionBy("event_type", "day")))
        .select(col("event_type"), col("day"), col("value"), col("cum"), col("tot"),
          explode(expr("array(50, 90, 99)")).as("pct"))
        .filter(col("cum") * 100 >= col("pct") * col("tot"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("event_type", "day", "pct").orderBy("value")))
        .filter(col("rk") === 1)
      cum.groupBy(col("event_type"), col("day"), col("tot").as("n"))
        .pivot("pct", Seq(50, 90, 99)).agg(first(col("value")))
        .select(col("event_type"), col("day"), col("n"),
          col("50").as("p50"), col("90").as("p90"), col("99").as("p99"))
        .orderBy("event_type", "day")
    },
    Some("""WITH g AS (SELECT event_type, CAST(ts AS DATE) AS day, value, COUNT(*) AS cnt FROM events GROUP BY 1, 2, 3), c AS (SELECT event_type, day, value, SUM(cnt) OVER (PARTITION BY event_type, day ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, SUM(cnt) OVER (PARTITION BY event_type, day) AS tot FROM g), x AS (SELECT event_type, day, value, cum, tot, pct FROM c, (SELECT unnest([50, 90, 99]) AS pct) p WHERE cum * 100 >= pct * tot QUALIFY ROW_NUMBER() OVER (PARTITION BY event_type, day, pct ORDER BY value) = 1) SELECT event_type, day, CAST(MAX(tot) AS BIGINT) AS n, MAX(CASE WHEN pct = 50 THEN value END) AS p50, MAX(CASE WHEN pct = 90 THEN value END) AS p90, MAX(CASE WHEN pct = 99 THEN value END) AS p99 FROM x GROUP BY event_type, day ORDER BY event_type, day"""),
  )

  /** One-way ANOVA F-test (r10): does mean event value differ across the
    * five event types? Completes the battery's parametric side next to
    * Welch's two-sample t (this is its k-group generalization). ONE
    * linear mergeable-moments pass (n, Σx, Σx² per type — the
    * 1000-executor shape), then SSB/SSW assembled over the 5-row group
    * relation with r6-rounded per-group contributions decimal-summed
    * (the entropy-op pattern: bounded-cardinality double sums must
    * still be order-free cross-engine). Output: F, both df, and η²
    * (effect size) in one row.
    */
  private val anovaOneway = Op(
    "stats_anova_oneway",
    (s, sf) => {
      val g = Tables.events(s, sf).groupBy(col("event_type")).agg(
        count(lit(1)).as("n"),
        sum(dec(col("value"))).as("sx"),
        sum(dec(r6(col("value") * col("value")))).as("sxx"))
      val wAll = Window.partitionBy()
      val x = g
        .withColumn("nn", sum("n").over(wAll))
        .withColumn("sxa", sum("sx").over(wAll))
        .withColumn("gm", col("sxa").cast("double") / col("nn"))
        .withColumn("m", col("sx").cast("double") / col("n"))
        .withColumn("ssb_c", r6(col("n") * (col("m") - col("gm")) * (col("m") - col("gm"))))
        .withColumn("ssw_c", r6(col("sxx").cast("double") - col("n") * col("m") * col("m")))
      val a = x.agg(
        countDistinct(col("event_type")).as("k"),
        max(col("nn")).cast("long").as("n"),
        sum(dec(col("ssb_c"))).cast("double").as("ssb"),
        sum(dec(col("ssw_c"))).cast("double").as("ssw"))
      a.select(col("k"), col("n"),
          r6(col("ssb")).as("ss_between"), r6(col("ssw")).as("ss_within"),
          (col("k") - 1).cast("long").as("df1"),
          (col("n") - col("k")).cast("long").as("df2"),
          r6((col("ssb") / (col("k") - 1)) / (col("ssw") / (col("n") - col("k")))).as("f_stat"),
          r6(col("ssb") / (col("ssb") + col("ssw"))).as("eta_sq"))
    },
    Some("""WITH g AS (SELECT event_type, COUNT(*) AS n, SUM(CAST(value AS DECIMAL(18,6))) AS sx, SUM(CAST(ROUND(1e-9 + value * value, 6) AS DECIMAL(18,6))) AS sxx FROM events GROUP BY 1), x AS (SELECT event_type, n, sx, sxx, CAST(SUM(n) OVER () AS BIGINT) AS nn, CAST(SUM(sx) OVER () AS DOUBLE) / CAST(SUM(n) OVER () AS BIGINT) AS gm, CAST(sx AS DOUBLE) / n AS m FROM g), y AS (SELECT event_type, nn, ROUND(1e-9 + n * (m - gm) * (m - gm), 6) AS ssb_c, ROUND(1e-9 + CAST(sxx AS DOUBLE) - n * m * m, 6) AS ssw_c FROM x), a AS (SELECT COUNT(DISTINCT event_type) AS k, CAST(MAX(nn) AS BIGINT) AS n, CAST(SUM(CAST(ssb_c AS DECIMAL(18,6))) AS DOUBLE) AS ssb, CAST(SUM(CAST(ssw_c AS DECIMAL(18,6))) AS DOUBLE) AS ssw FROM y) SELECT k, n, ROUND(1e-9 + ssb, 6) AS ss_between, ROUND(1e-9 + ssw, 6) AS ss_within, CAST(k - 1 AS BIGINT) AS df1, CAST(n - k AS BIGINT) AS df2, ROUND(1e-9 + (ssb / (k - 1)) / (ssw / (n - k)), 6) AS f_stat, ROUND(1e-9 + ssb / (ssb + ssw), 6) AS eta_sq FROM a"""),
  )

  /** Cohen's d / Hedges' g effect size (r10): HOW BIG is the
    * purchase-vs-click mean-value gap, in pooled-SD units — the
    * companion number to every significance test in the battery (a
    * 100 TB corpus makes everything "significant"; effect size is what
    * decides if anyone should care). One conditional-moments pass
    * (the Welch discipline), pooled variance from the exact decimal
    * moments, small-sample Hedges correction as one identical double
    * chain.
    */
  private val cohensD = Op(
    "stats_cohens_d",
    (s, sf) => {
      val isA = col("event_type") === "purchase"
      val isB = col("event_type") === "click"
      val m = Tables.events(s, sf).filter(isA || isB).agg(
        sum(when(isA, 1L).otherwise(0L)).as("n1"),
        sum(when(isA, dec(col("value")))).as("sx1"),
        sum(when(isA, dec(r6(col("value") * col("value"))))).as("sxx1"),
        sum(when(isB, 1L).otherwise(0L)).as("n2"),
        sum(when(isB, dec(col("value")))).as("sx2"),
        sum(when(isB, dec(r6(col("value") * col("value"))))).as("sxx2"))
      val m1 = col("sx1").cast("double") / col("n1")
      val m2 = col("sx2").cast("double") / col("n2")
      val v1 = (col("sxx1").cast("double") - col("n1") * m1 * m1) / (col("n1") - 1)
      val v2 = (col("sxx2").cast("double") - col("n2") * m2 * m2) / (col("n2") - 1)
      val sp = sqrt(((col("n1") - 1) * v1 + (col("n2") - 1) * v2) / (col("n1") + col("n2") - 2))
      val d = (m1 - m2) / sp
      m.select(col("n1").as("n_a"), col("n2").as("n_b"),
        r6(m1).as("mean_a"), r6(m2).as("mean_b"),
        r6(sp).as("pooled_sd"),
        r6(d).as("cohens_d"),
        r6(d * (lit(1.0) - lit(3.0) / (lit(4.0) * (col("n1") + col("n2")) - 9))).as("hedges_g"))
    },
    Some("""WITH m AS (SELECT SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS n1, SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,6)) END) AS sx1, SUM(CASE WHEN event_type = 'purchase' THEN CAST(ROUND(1e-9 + value * value, 6) AS DECIMAL(18,6)) END) AS sxx1, SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS n2, SUM(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(18,6)) END) AS sx2, SUM(CASE WHEN event_type = 'click' THEN CAST(ROUND(1e-9 + value * value, 6) AS DECIMAL(18,6)) END) AS sxx2 FROM events WHERE event_type IN ('purchase', 'click')), x AS (SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2, CAST(sx1 AS DOUBLE) / n1 AS m1, CAST(sx2 AS DOUBLE) / n2 AS m2, (CAST(sxx1 AS DOUBLE) - n1 * (CAST(sx1 AS DOUBLE) / n1) * (CAST(sx1 AS DOUBLE) / n1)) / (n1 - 1) AS v1, (CAST(sxx2 AS DOUBLE) - n2 * (CAST(sx2 AS DOUBLE) / n2) * (CAST(sx2 AS DOUBLE) / n2)) / (n2 - 1) AS v2 FROM m), y AS (SELECT n1, n2, m1, m2, sqrt(((n1 - 1) * v1 + (n2 - 1) * v2) / (n1 + n2 - 2)) AS sp FROM x) SELECT n1 AS n_a, n2 AS n_b, ROUND(1e-9 + m1, 6) AS mean_a, ROUND(1e-9 + m2, 6) AS mean_b, ROUND(1e-9 + sp, 6) AS pooled_sd, ROUND(1e-9 + (m1 - m2) / sp, 6) AS cohens_d, ROUND(1e-9 + ((m1 - m2) / sp) * (1.0 - 3.0 / (4.0 * (n1 + n2) - 9)), 6) AS hedges_g FROM y"""),
  )

  /** Cramér's V (r10): the normalized effect size of the
    * [[chisq]] contingency (event type × day-of-week) — χ² scaled onto
    * [0, 1] by n·(min(r,c)−1), the categorical-association companion
    * to [[cohensD]]'s numeric one. Same aggregated-contingency
    * dataflow (35 cells, window marginals, r6 contributions decimal-
    * summed), collapsed to a 1-row summary.
    */
  private val cramersV = Op(
    "stats_cramers_v",
    (s, sf) => {
      val o = Tables.events(s, sf)
        .groupBy(col("event_type"), dayofweek(col("ts")).as("dow"))
        .agg(count(lit(1)).as("observed"))
      val wr = Window.partitionBy("event_type")
      val wc = Window.partitionBy("dow")
      val wAll = Window.partitionBy()
      val x = o.withColumn("rt", sum("observed").over(wr))
        .withColumn("ct", sum("observed").over(wc))
        .withColumn("n", sum("observed").over(wAll))
        .withColumn("e", col("rt").cast("double") * col("ct") / col("n"))
        .withColumn("contrib",
          r6((col("observed") - col("e")) * (col("observed") - col("e")) / col("e")))
      val a = x.agg(
        max(col("n")).cast("long").as("n"),
        countDistinct(col("event_type")).as("r_levels"),
        countDistinct(col("dow")).as("c_levels"),
        sum(dec(col("contrib"))).cast("double").as("chi2"))
      a.select(col("n"), col("r_levels"), col("c_levels"),
          r6(col("chi2")).as("chi2"),
          ((col("r_levels") - 1) * (col("c_levels") - 1)).cast("long").as("df"),
          r6(sqrt(col("chi2") / (col("n") *
            least(col("r_levels") - 1, col("c_levels") - 1)))).as("cramers_v"))
    },
    Some("""WITH o AS (SELECT event_type, dayofweek(ts) + 1 AS dow, COUNT(*) AS observed FROM events GROUP BY 1, 2), x AS (SELECT event_type, dow, CAST(observed AS BIGINT) AS observed, CAST(SUM(observed) OVER () AS BIGINT) AS n, CAST(SUM(observed) OVER (PARTITION BY event_type) AS DOUBLE) * CAST(SUM(observed) OVER (PARTITION BY dow) AS BIGINT) / CAST(SUM(observed) OVER () AS BIGINT) AS e FROM o), y AS (SELECT event_type, dow, n, ROUND(1e-9 + (observed - e) * (observed - e) / e, 6) AS contrib FROM x), a AS (SELECT CAST(MAX(n) AS BIGINT) AS n, COUNT(DISTINCT event_type) AS r_levels, COUNT(DISTINCT dow) AS c_levels, CAST(SUM(CAST(contrib AS DECIMAL(18,6))) AS DOUBLE) AS chi2 FROM y) SELECT n, r_levels, c_levels, ROUND(1e-9 + chi2, 6) AS chi2, CAST((r_levels - 1) * (c_levels - 1) AS BIGINT) AS df, ROUND(1e-9 + sqrt(chi2 / (n * LEAST(r_levels - 1, c_levels - 1))), 6) AS cramers_v FROM a"""),
  )

  /** Jensen-Shannon divergence per day (r10): each day's event-type mix
    * vs the corpus-global mix — the SYMMETRIC, bounded ([0, ln 2])
    * drift number dashboards want where KL blows up on a zero cell.
    * The (day × type) grid is built explicitly (cross join of the two
    * distinct sets, zero-filled) because an absent type still
    * contributes its ½·q·ln(q/m) term — dropping missing cells
    * understates the divergence. Probabilities are r6-rounded BEFORE
    * the logs (both engines take ln of identical doubles — the entropy
    * op's discipline), contributions r6 + decimal-summed per day.
    */
  private val jsDivergence = Op(
    "stats_js_divergence",
    (s, sf) => {
      val ev = Tables.events(s, sf)
      val c = ev.groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
      val days = c.select("day").distinct()
      val glob = ev.groupBy(col("event_type")).agg(count(lit(1)).as("gcnt"))
        .withColumn("gtot", sum("gcnt").over(Window.partitionBy()))
      val grid = days.crossJoin(glob)
        .join(c, Seq("day", "event_type"), "left_outer")
        .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
        .withColumn("tot", sum("cnt").over(Window.partitionBy("day")))
      val x = grid
        .withColumn("p", r6(col("cnt").cast("double") / col("tot")))
        .withColumn("q", r6(col("gcnt").cast("double") / col("gtot")))
        .withColumn("m", (col("p") + col("q")) / 2)
        .withColumn("contrib", r6(
          when(col("p") > 0, lit(0.5) * col("p") * log(col("p") / col("m"))).otherwise(0.0) +
          when(col("q") > 0, lit(0.5) * col("q") * log(col("q") / col("m"))).otherwise(0.0)))
      x.groupBy("day")
        .agg(max("tot").cast("long").as("n_events"),
          sum(dec(col("contrib"))).cast("double").as("jsd"))
        .withColumn("jsd", r6(col("jsd")))
        .withColumn("jsd_norm", r6(col("jsd") / log(lit(2.0))))
        .orderBy("day")
    },
    Some("""WITH c AS (SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS cnt FROM events GROUP BY 1, 2), days AS (SELECT DISTINCT day FROM c), gl AS (SELECT event_type, COUNT(*) AS gcnt, CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS gtot FROM events GROUP BY 1), grid AS (SELECT d.day, g.event_type, g.gcnt, g.gtot, COALESCE(c.cnt, 0) AS cnt FROM days d CROSS JOIN gl g LEFT JOIN c ON c.day = d.day AND c.event_type = g.event_type), t AS (SELECT day, event_type, gcnt, gtot, cnt, CAST(SUM(cnt) OVER (PARTITION BY day) AS BIGINT) AS tot FROM grid), x AS (SELECT day, tot, ROUND(1e-9 + CAST(cnt AS DOUBLE) / tot, 6) AS p, ROUND(1e-9 + CAST(gcnt AS DOUBLE) / gtot, 6) AS q FROM t), y AS (SELECT day, tot, ROUND(1e-9 + (CASE WHEN p > 0 THEN 0.5 * p * ln(p / ((p + q) / 2)) ELSE 0.0 END) + (CASE WHEN q > 0 THEN 0.5 * q * ln(q / ((p + q) / 2)) ELSE 0.0 END), 6) AS contrib FROM x) SELECT day, CAST(MAX(tot) AS BIGINT) AS n_events, ROUND(1e-9 + CAST(SUM(CAST(contrib AS DECIMAL(18,6))) AS DOUBLE), 6) AS jsd, ROUND(1e-9 + CAST(SUM(CAST(contrib AS DECIMAL(18,6))) AS DOUBLE) / ln(2.0), 6) AS jsd_norm FROM y GROUP BY day ORDER BY day"""),
  )

  /** Spearman rank correlation (r10): the monotonic-association member
    * of the battery (Pearson on FRACTIONAL RANKS — robust to the
    * price-scale outliers that bend [[Aggs]]' stats_corr_pairs).
    * Formulated entirely over BOUNDED-domain marginals: l_quantity (50
    * values) vs l_discount (11 values) per returnflag, so ranks come
    * from running sums over the ≤61-row marginal relations — never a
    * fact-size sort (the agg_weighted_median lesson: a window whose
    * partition count is the group count but whose rows are the fact
    * table is a 100 TB scale-killer; here window rows are the NDV).
    * Doubled average ranks (2·cum_before + cnt + 1) keep everything
    * INTEGER — the joint-cell moment sums are exact longs both engines
    * (≤ 8·10¹⁵, inside int64 and double's 2⁵³) — and the Pearson
    * closed form over them is one identical IEEE chain, r6 once.
    */
  private val spearmanRank = Op(
    "stats_spearman_rank",
    (s, sf) => {
      val cells = Tables.lineitem(s, sf)
        .groupBy(col("l_returnflag"), col("l_quantity"), col("l_discount"))
        .agg(count(lit(1)).as("cnt"))
      def marg(valueCol: String, rankCol: String): org.apache.spark.sql.DataFrame = {
        val w = Window.partitionBy("l_returnflag").orderBy(valueCol)
          .rowsBetween(Window.unboundedPreceding, -1)
        cells.groupBy(col("l_returnflag"), col(valueCol))
          .agg(sum("cnt").as("c"))
          .withColumn("cum", coalesce(sum("c").over(w), lit(0L)))
          .select(col("l_returnflag"), col(valueCol),
            (lit(2) * col("cum") + col("c") + 1).cast("long").as(rankCol))
      }
      val joined = cells
        .join(marg("l_quantity", "rx2"), Seq("l_returnflag", "l_quantity"))
        .join(marg("l_discount", "ry2"), Seq("l_returnflag", "l_discount"))
      val a = joined.groupBy(col("l_returnflag")).agg(
        sum(col("cnt")).cast("long").as("n"),
        sum(col("cnt") * col("rx2")).cast("double").as("sa"),
        sum(col("cnt") * col("ry2")).cast("double").as("sb"),
        sum(col("cnt") * col("rx2") * col("rx2")).cast("double").as("saa"),
        sum(col("cnt") * col("ry2") * col("ry2")).cast("double").as("sbb"),
        sum(col("cnt") * col("rx2") * col("ry2")).cast("double").as("sab"))
      val den = sqrt(col("n") * col("saa") - col("sa") * col("sa")) *
        sqrt(col("n") * col("sbb") - col("sb") * col("sb"))
      a.select(col("l_returnflag"), col("n"),
          r6((col("n") * col("sab") - col("sa") * col("sb")) / when(den =!= 0, den))
            .as("spearman_rho"))
        .orderBy("l_returnflag")
    },
    Some("""WITH cells AS (SELECT l_returnflag, l_quantity, l_discount, COUNT(*) AS cnt FROM lineitem GROUP BY 1, 2, 3), mq AS (SELECT l_returnflag, l_quantity, CAST(2 * COALESCE(CAST(SUM(c) OVER (PARTITION BY l_returnflag ORDER BY l_quantity ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) + c + 1 AS BIGINT) AS rx2 FROM (SELECT l_returnflag, l_quantity, SUM(cnt) AS c FROM cells GROUP BY 1, 2) t), md AS (SELECT l_returnflag, l_discount, CAST(2 * COALESCE(CAST(SUM(c) OVER (PARTITION BY l_returnflag ORDER BY l_discount ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) + c + 1 AS BIGINT) AS ry2 FROM (SELECT l_returnflag, l_discount, SUM(cnt) AS c FROM cells GROUP BY 1, 2) t), j AS (SELECT cells.l_returnflag, cnt, rx2, ry2 FROM cells JOIN mq ON mq.l_returnflag = cells.l_returnflag AND mq.l_quantity = cells.l_quantity JOIN md ON md.l_returnflag = cells.l_returnflag AND md.l_discount = cells.l_discount), a AS (SELECT l_returnflag, CAST(SUM(cnt) AS BIGINT) AS n, CAST(SUM(cnt * rx2) AS DOUBLE) AS sa, CAST(SUM(cnt * ry2) AS DOUBLE) AS sb, CAST(SUM(cnt * rx2 * rx2) AS DOUBLE) AS saa, CAST(SUM(cnt * ry2 * ry2) AS DOUBLE) AS sbb, CAST(SUM(cnt * rx2 * ry2) AS DOUBLE) AS sab FROM j GROUP BY 1) SELECT l_returnflag, n, ROUND(1e-9 + (n * sab - sa * sb) / NULLIF(sqrt(n * saa - sa * sa) * sqrt(n * sbb - sb * sb), 0), 6) AS spearman_rho FROM a ORDER BY l_returnflag"""),
  )

  /** Wald-Wolfowitz runs test (r10): is the daily-revenue series'
    * up/down pattern RANDOM, or does it trend/oscillate? The
    * battery's serial-dependence screen (KS/PSI/JS see marginal
    * distributions; this sees ORDER). Daily totals are exact decimal
    * sums, so the up/down signs and the run count are integer-exact;
    * the normal approximation (E[R], Var[R] from n_up/n_down) is one
    * identical double chain, r6 once. The lag windows run over the
    * DAYS-bounded daily relation — 30 rows here, still tiny at any
    * corpus scale.
    */
  private val runsTest = Op(
    "stats_runs_test",
    (s, sf) => {
      val daily = Tables.events(s, sf)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(dec(col("value"))).as("rev"))
      val w = Window.orderBy("day")
      val d = daily.withColumn("prev", lag(col("rev"), 1).over(w))
        .filter(col("prev").isNotNull)
        .withColumn("up", when(col("rev") > col("prev"), 1L).otherwise(0L))
        .withColumn("chg", when(lag(col("up"), 1).over(w).isNull, 1L)
          .when(col("up") =!= lag(col("up"), 1).over(w), 1L).otherwise(0L))
      val a = d.agg(
        sum(col("up")).as("n_up"),
        (count(lit(1)) - sum(col("up"))).as("n_down"),
        sum(col("chg")).as("runs"))
      val n1 = col("n_up").cast("double"); val n2 = col("n_down").cast("double")
      val er = lit(1.0) + lit(2) * n1 * n2 / (n1 + n2)
      val vr = lit(2) * n1 * n2 * (lit(2) * n1 * n2 - n1 - n2) /
        ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1))
      a.select(col("n_up").cast("long").as("n_up"),
        col("n_down").cast("long").as("n_down"),
        col("runs").cast("long").as("runs"),
        r6(er).as("expected_runs"),
        r6((col("runs") - er) / sqrt(vr)).as("z_stat"))
    },
    Some("""WITH daily AS (SELECT CAST(ts AS DATE) AS day, SUM(CAST(value AS DECIMAL(18,6))) AS rev FROM events GROUP BY 1), d0 AS (SELECT day, rev, LAG(rev) OVER (ORDER BY day) AS prev FROM daily), d1 AS (SELECT day, CASE WHEN rev > prev THEN 1 ELSE 0 END AS up FROM d0 WHERE prev IS NOT NULL), d2 AS (SELECT up, CASE WHEN LAG(up) OVER (ORDER BY day) IS NULL THEN 1 WHEN up <> LAG(up) OVER (ORDER BY day) THEN 1 ELSE 0 END AS chg FROM d1), a AS (SELECT CAST(SUM(up) AS BIGINT) AS n_up, CAST(COUNT(*) - SUM(up) AS BIGINT) AS n_down, CAST(SUM(chg) AS BIGINT) AS runs FROM d2), x AS (SELECT n_up, n_down, runs, CAST(n_up AS DOUBLE) AS n1, CAST(n_down AS DOUBLE) AS n2 FROM a) SELECT n_up, n_down, runs, ROUND(1e-9 + 1.0 + 2 * n1 * n2 / (n1 + n2), 6) AS expected_runs, ROUND(1e-9 + (runs - (1.0 + 2 * n1 * n2 / (n1 + n2))) / sqrt(2 * n1 * n2 * (2 * n1 * n2 - n1 - n2) / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1))), 6) AS z_stat FROM x"""),
  )

  /** G-test of independence (r10b) on the same event_type × day-of-week
    * contingency as [[chisq]] — the likelihood-ratio dual (G = 2·Σ O·ln(O/E)),
    * preferred over Pearson χ² when any expected cell is small because the
    * statistic is exactly the deviance the log-linear model reports.
    * Same scale shape as chisq: ONE linear hash-agg of the fact table,
    * then window math over the ≤ |types|·7-cell relation. Parity: the ln
    * ratio is r6'd before ln (both engines feed libm the same double),
    * per-cell contributions r6'd then decimal-summed. Cells absent from
    * the groupBy have O = 0 and contribute 0 in the limit — the standard
    * G-test convention, identical on both sides by construction.
    */
  private val gTest = Op(
    "stats_gtest",
    (s, sf) => {
      val o = Tables.events(s, sf)
        .groupBy(col("event_type"), dayofweek(col("ts")).as("dow"))
        .agg(count(lit(1)).as("observed"))
      val dfree = o.agg(
        ((countDistinct(col("event_type")) - 1) *
          (countDistinct(col("dow")) - 1)).cast("long").as("df"))
      val wr = Window.partitionBy("event_type")
      val wc = Window.partitionBy("dow")
      val wAll = Window.partitionBy()
      o.withColumn("rt", sum("observed").over(wr))
        .withColumn("ct", sum("observed").over(wc))
        .withColumn("n", sum("observed").over(wAll))
        .withColumn("e", col("rt").cast("double") * col("ct") / col("n"))
        .withColumn("g_contrib",
          r6(lit(2.0) * col("observed") * log(r6(col("observed") / col("e")))))
        .withColumn("g_total", sum(dec(col("g_contrib"))).over(wAll).cast("double"))
        .crossJoin(broadcast(dfree))
        .select(col("event_type"), col("dow"), col("observed"),
          r6(col("e")).as("expected"), col("g_contrib"), col("g_total"), col("df"))
        .orderBy("event_type", "dow")
    },
    Some("""WITH o AS (SELECT event_type, dayofweek(ts) + 1 AS dow, COUNT(*) AS observed FROM events GROUP BY 1, 2), t AS (SELECT CAST((COUNT(DISTINCT event_type) - 1) * (COUNT(DISTINCT dow) - 1) AS BIGINT) AS df FROM o), x AS (SELECT event_type, dow, CAST(observed AS BIGINT) AS observed, CAST(SUM(observed) OVER (PARTITION BY event_type) AS DOUBLE) * CAST(SUM(observed) OVER (PARTITION BY dow) AS BIGINT) / CAST(SUM(observed) OVER () AS BIGINT) AS e FROM o), c AS (SELECT event_type, dow, observed, e, ROUND(1e-9 + 2.0 * observed * ln(ROUND(1e-9 + observed / e, 6)), 6) AS g_contrib FROM x) SELECT event_type, dow, observed, ROUND(1e-9 + e, 6) AS expected, g_contrib, CAST(SUM(CAST(g_contrib AS DECIMAL(18, 6))) OVER () AS DOUBLE) AS g_total, df FROM c, t ORDER BY event_type, dow"""),
  )

  /** Benjamini-Hochberg FDR correction (r10b) over a battery of per-type
    * weekend-vs-weekday Welch z-tests — the multiple-comparisons
    * discipline every per-segment monitoring battery needs (k tests at
    * α=0.05 fire ~k/20 false alarms uncorrected). The two-sided p-value
    * comes from the Abramowitz-Stegun 7.1.26 erfc polynomial (max abs
    * error 1.5e-7, below the r6 grain) written as the IDENTICAL double
    * expression on both engines — no engine exposes erf in SQL. BH step:
    * rank p ascending, adj_i = min_{j≥i}(p_j·m/j) via a reversed running
    * min, clamp at 1. Scale shape: one conditional-moments hash-agg of
    * the fact table (linear, map-side combined), then window math over
    * the |event types|-row battery.
    */
  private val bhFdr = Op(
    "stats_bh_fdr",
    (s, sf) => {
      val wkendS = dayofweek(col("ts")).isin(1, 7)
      val m = Tables.events(s, sf).groupBy("event_type").agg(
        sum(when(wkendS, 1L).otherwise(0L)).as("n1"),
        sum(when(wkendS, dec(col("value")))).as("sx1"),
        sum(when(wkendS, dec(r6(col("value") * col("value"))))).as("sxx1"),
        sum(when(!wkendS, 1L).otherwise(0L)).as("n2"),
        sum(when(!wkendS, dec(col("value")))).as("sx2"),
        sum(when(!wkendS, dec(r6(col("value") * col("value"))))).as("sxx2"))
      val m1 = col("sx1").cast("double") / col("n1")
      val m2 = col("sx2").cast("double") / col("n2")
      val v1 = (col("sxx1").cast("double") - col("n1") * m1 * m1) / (col("n1") - 1)
      val v2 = (col("sxx2").cast("double") - col("n2") * m2 * m2) / (col("n2") - 1)
      val z = (m1 - m2) / sqrt(v1 / col("n1") + v2 / col("n2"))
      val scored = m.select(col("event_type"),
        col("n1").as("n_weekend"), col("n2").as("n_weekday"),
        r6(z).as("z_stat"))
        // A&S 7.1.26 on x = |z|/sqrt(2): erfc(x) = poly(t)·e^(−x²),
        // t = 1/(1+0.3275911x) — evaluated on the r6-pinned |z| so both
        // engines start from the same double.
        .withColumn("x", abs(col("z_stat")) / sqrt(lit(2.0)))
        .withColumn("t", lit(1.0) / (lit(1.0) + lit(0.3275911) * col("x")))
        .withColumn("p_value", r6(
          col("t") * (lit(0.254829592) + col("t") * (lit(-0.284496736)
            + col("t") * (lit(1.421413741) + col("t") * (lit(-1.453152027)
            + col("t") * lit(1.061405429))))) * exp(-col("x") * col("x"))))
      val wAll = Window.partitionBy()
      val wRank = Window.orderBy(col("p_value"), col("event_type"))
      val wTail = Window.orderBy(col("p_value").desc, col("event_type").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      scored
        .withColumn("mtot", count(lit(1)).over(wAll))
        .withColumn("rk", row_number().over(wRank))
        .withColumn("raw_adj", r6(col("p_value") * col("mtot") / col("rk")))
        .withColumn("p_adj", least(lit(1.0), min(col("raw_adj")).over(wTail)))
        .withColumn("rejected", col("p_adj") <= 0.05)
        .select(col("event_type"), col("n_weekend"), col("n_weekday"),
          col("z_stat"), col("p_value"), col("rk").cast("int").as("rk"),
          col("p_adj"), col("rejected"))
        .orderBy("event_type")
    },
    Some("""WITH m AS (SELECT event_type, SUM(CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END) AS n1, SUM(CASE WHEN dayofweek(ts) IN (0, 6) THEN CAST(value AS DECIMAL(18,6)) END) AS sx1, SUM(CASE WHEN dayofweek(ts) IN (0, 6) THEN CAST(ROUND(1e-9 + value * value, 6) AS DECIMAL(18,6)) END) AS sxx1, SUM(CASE WHEN dayofweek(ts) NOT IN (0, 6) THEN 1 ELSE 0 END) AS n2, SUM(CASE WHEN dayofweek(ts) NOT IN (0, 6) THEN CAST(value AS DECIMAL(18,6)) END) AS sx2, SUM(CASE WHEN dayofweek(ts) NOT IN (0, 6) THEN CAST(ROUND(1e-9 + value * value, 6) AS DECIMAL(18,6)) END) AS sxx2 FROM events GROUP BY 1), w AS (SELECT event_type, CAST(n1 AS BIGINT) AS n_weekend, CAST(n2 AS BIGINT) AS n_weekday, ROUND(1e-9 + (CAST(sx1 AS DOUBLE) / n1 - CAST(sx2 AS DOUBLE) / n2) / sqrt((CAST(sxx1 AS DOUBLE) - n1 * (CAST(sx1 AS DOUBLE) / n1) * (CAST(sx1 AS DOUBLE) / n1)) / (n1 - 1) / n1 + (CAST(sxx2 AS DOUBLE) - n2 * (CAST(sx2 AS DOUBLE) / n2) * (CAST(sx2 AS DOUBLE) / n2)) / (n2 - 1) / n2), 6) AS z_stat FROM m), p AS (SELECT event_type, n_weekend, n_weekday, z_stat, ROUND(1e-9 + t * (0.254829592 + t * (-0.284496736 + t * (1.421413741 + t * (-1.453152027 + t * 1.061405429)))) * exp(-x * x), 6) AS p_value FROM (SELECT *, 1.0 / (1.0 + 0.3275911 * x) AS t FROM (SELECT *, ABS(z_stat) / sqrt(2.0) AS x FROM w) a) b), r AS (SELECT *, COUNT(*) OVER () AS mtot, ROW_NUMBER() OVER (ORDER BY p_value, event_type) AS rk FROM p), adj AS (SELECT *, LEAST(1.0, MIN(ROUND(1e-9 + p_value * mtot / rk, 6)) OVER (ORDER BY p_value DESC, event_type DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS p_adj FROM r) SELECT event_type, n_weekend, n_weekday, z_stat, p_value, CAST(rk AS INT) AS rk, p_adj, p_adj <= 0.05 AS rejected FROM adj ORDER BY event_type"""),
  )

  /** Kendall tau-b (r10b) of l_quantity vs l_discount per returnflag —
    * the rank-correlation companion to [[spearmanRank]], robust to the
    * heavy ties both columns carry (50 and 11 distinct values). The
    * naive statistic is O(n²) row pairs; this formulation is exact on
    * the VALUE-CELL contingency: one linear hash-agg to (q, d, cnt)
    * cells, then concordant/discordant mass via an ordered cell
    * self-join (≤ 550 cells per flag → ≤ 151k cell pairs, forever —
    * bounded by the value domain, not row count). Everything up to the
    * final quotient is INTEGER (pair masses as exact longs; tie terms
    * t(t−1) DIV 2 on the marginals); the denominator's two factors are
    * ~n²/2 so each is sqrt'd separately in doubles to dodge the long
    * overflow their product would hit at sf ≥ 1.
    */
  private val kendallTau = Op(
    "stats_kendall_tau",
    (s, sf) => {
      val cells = Tables.lineitem(s, sf)
        .groupBy(col("l_returnflag").as("f"), col("l_quantity").as("q"),
          col("l_discount").as("d"))
        .agg(count(lit(1)).as("cnt"))
      val b = cells.select(col("f").as("bf"), col("q").as("bq"),
        col("d").as("bd"), col("cnt").as("bcnt"))
      val cd = cells.join(b, col("f") === col("bf") &&
          (col("q") < col("bq") || (col("q") === col("bq") && col("d") < col("bd"))))
        .groupBy("f")
        .agg(
          sum(when(col("bq") > col("q") && col("bd") > col("d"),
            col("cnt") * col("bcnt")).otherwise(0L)).cast("long").as("conc"),
          sum(when(col("bq") > col("q") && col("bd") < col("d"),
            col("cnt") * col("bcnt")).otherwise(0L)).cast("long").as("disc"))
      val tot = cells.groupBy("f").agg(sum("cnt").cast("long").as("n"))
      def ties(k: String, out: String) = cells.groupBy(col("f"), col(k))
        .agg(sum("cnt").as("t"))
        .groupBy("f").agg(sum(expr("t * (t - 1) DIV 2")).cast("long").as(out))
      val j = tot.join(cd, Seq("f")).join(ties("q", "tx"), Seq("f"))
        .join(ties("d", "ty"), Seq("f"))
        .withColumn("n0", expr("n * (n - 1) DIV 2"))
      j.select(col("f").as("l_returnflag"), col("n"),
          col("conc").as("concordant"), col("disc").as("discordant"),
          r6((col("conc") - col("disc")).cast("double") /
            (sqrt((col("n0") - col("tx")).cast("double")) *
              sqrt((col("n0") - col("ty")).cast("double")))).as("tau_b"))
        .orderBy("l_returnflag")
    },
    Some("""WITH cells AS (SELECT l_returnflag AS f, l_quantity AS q, l_discount AS d, COUNT(*) AS cnt FROM lineitem GROUP BY 1, 2, 3), cd AS (SELECT a.f, CAST(SUM(CASE WHEN b.q > a.q AND b.d > a.d THEN a.cnt * b.cnt ELSE 0 END) AS BIGINT) AS conc, CAST(SUM(CASE WHEN b.q > a.q AND b.d < a.d THEN a.cnt * b.cnt ELSE 0 END) AS BIGINT) AS disc FROM cells a JOIN cells b ON a.f = b.f AND (a.q < b.q OR (a.q = b.q AND a.d < b.d)) GROUP BY 1), tot AS (SELECT f, CAST(SUM(cnt) AS BIGINT) AS n FROM cells GROUP BY 1), tx AS (SELECT f, CAST(SUM(t * (t - 1) // 2) AS BIGINT) AS tx FROM (SELECT f, q, SUM(cnt) AS t FROM cells GROUP BY 1, 2) z GROUP BY 1), ty AS (SELECT f, CAST(SUM(t * (t - 1) // 2) AS BIGINT) AS ty FROM (SELECT f, d, SUM(cnt) AS t FROM cells GROUP BY 1, 2) z GROUP BY 1), j AS (SELECT tot.f, n, conc, disc, tx, ty, n * (n - 1) // 2 AS n0 FROM tot JOIN cd ON cd.f = tot.f JOIN tx ON tx.f = tot.f JOIN ty ON ty.f = tot.f) SELECT f AS l_returnflag, n, conc AS concordant, disc AS discordant, ROUND(1e-9 + CAST(conc - disc AS DOUBLE) / (sqrt(CAST(n0 - tx AS DOUBLE)) * sqrt(CAST(n0 - ty AS DOUBLE))), 6) AS tau_b FROM j ORDER BY l_returnflag"""),
  )

  /** Jarque-Bera normality test (r10c) per event type — the screen that
    * turns [[skewKurtosis]]'s descriptive moments into a decision
    * statistic: JB = n·(g1²/6 + g2²/24) is asymptotically χ²(2) under
    * normality, so a fat tail OR an asymmetry alone fires it. Same
    * single-pass mergeable-moments shape as its parent (one linear
    * hash-agg carrying decimal Σx..Σx⁴; central moments by the binomial
    * expansion); JB is computed from the RAW m-moments and rounded once
    * — never from the already-rounded skew/kurt columns (no compounding).
    * The s2..s4 sums are DECIMAL(38,6) on BOTH engines: a fourth-power
    * term at |value| ≥ 1000 exceeds DECIMAL(18,6)'s 1e12 integer capacity
    * — Spark would NULL it silently (non-ANSI) while DuckDB errors, a
    * quiet divergence (r10 advice). 38,6 holds to |value| ~ 1e8.
    */
  private val jarqueBera = Op(
    "stats_jarque_bera",
    (s, sf) => {
      val m = Tables.events(s, sf).groupBy("event_type").agg(
        count(lit(1)).as("n"),
        sum(dec(col("value"))).as("s1"),
        sum(dec38(r6(col("value") * col("value")))).as("s2"),
        sum(dec38(r6(col("value") * col("value") * col("value")))).as("s3"),
        sum(dec38(r6(col("value") * col("value") * col("value") * col("value")))).as("s4"))
      val n = col("n").cast("double")
      val mu = col("s1").cast("double") / n
      val r2 = col("s2").cast("double") / n
      val r3 = col("s3").cast("double") / n
      val r4 = col("s4").cast("double") / n
      val m2 = r2 - mu * mu
      val m3 = r3 - lit(3) * mu * r2 + lit(2) * mu * mu * mu
      val m4 = r4 - lit(4) * mu * r3 + lit(6) * mu * mu * r2 - lit(3) * mu * mu * mu * mu
      val g1 = m3 / pow(m2, 1.5)
      val g2 = m4 / (m2 * m2) - lit(3)
      m.select(col("event_type"), col("n"),
          r6(g1).as("skewness"), r6(g2).as("kurtosis_excess"),
          r6(n * (g1 * g1 / 6 + g2 * g2 / 24)).as("jb_stat"))
        .orderBy("event_type")
    },
    Some("""WITH m AS (SELECT event_type, COUNT(*) AS n, SUM(CAST(value AS DECIMAL(18,6))) AS s1, SUM(CAST(ROUND(1e-9 + value * value, 6) AS DECIMAL(38,6))) AS s2, SUM(CAST(ROUND(1e-9 + value * value * value, 6) AS DECIMAL(38,6))) AS s3, SUM(CAST(ROUND(1e-9 + value * value * value * value, 6) AS DECIMAL(38,6))) AS s4 FROM events GROUP BY 1), x AS (SELECT event_type, n, CAST(s1 AS DOUBLE) / n AS mu, CAST(s2 AS DOUBLE) / n AS r2, CAST(s3 AS DOUBLE) / n AS r3, CAST(s4 AS DOUBLE) / n AS r4 FROM m), c AS (SELECT event_type, n, r2 - mu * mu AS m2, r3 - 3 * mu * r2 + 2 * mu * mu * mu AS m3, r4 - 4 * mu * r3 + 6 * mu * mu * r2 - 3 * mu * mu * mu * mu AS m4 FROM x), g AS (SELECT event_type, n, m3 / pow(m2, 1.5) AS g1, m4 / (m2 * m2) - 3 AS g2 FROM c) SELECT event_type, CAST(n AS BIGINT) AS n, ROUND(1e-9 + g1, 6) AS skewness, ROUND(1e-9 + g2, 6) AS kurtosis_excess, ROUND(1e-9 + n * (g1 * g1 / 6 + g2 * g2 / 24), 6) AS jb_stat FROM g ORDER BY event_type"""),
  )

  /** Poisson dispersion test (r10c) on daily event COUNTS per type —
    * the arrival-process screen (a Poisson stream has variance = mean;
    * overdispersion means bursts/contagion, underdispersion means
    * rate-limiting). Counts are integers so the day-level moments are
    * EXACT decimals with no r6 anywhere before the final quotients;
    * the χ² form (n−1)·s²/x̄ is the classical conditional test. Scale
    * shape: one linear hash-agg to (type, day) counts, then a
    * days-bounded second agg — the fact table is touched once.
    */
  private val poissonDispersion = Op(
    "stats_poisson_dispersion",
    (s, sf) => {
      val daily = Tables.events(s, sf)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("c"))
      val m = daily.groupBy("event_type").agg(
        count(lit(1)).as("n_days"),
        sum(col("c")).cast("long").as("total"),
        sum(dec(col("c") * col("c"))).as("s2"))
      val n = col("n_days").cast("double")
      val mu = col("total").cast("double") / n
      val v = (col("s2").cast("double") - n * mu * mu) / (n - 1)
      m.select(col("event_type"), col("n_days"), col("total"),
          r6(mu).as("mean_daily"), r6(v).as("var_daily"),
          r6(v / mu).as("dispersion_index"),
          r6((n - 1) * v / mu).as("chi2_stat"))
        .orderBy("event_type")
    },
    Some("""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c FROM events GROUP BY 1, 2), m AS (SELECT event_type, COUNT(*) AS n_days, CAST(SUM(c) AS BIGINT) AS total, SUM(CAST(c * c AS DECIMAL(18,6))) AS s2 FROM daily GROUP BY 1), x AS (SELECT event_type, n_days, total, CAST(n_days AS DOUBLE) AS n, CAST(total AS DOUBLE) / n_days AS mu, (CAST(s2 AS DOUBLE) - n_days * (CAST(total AS DOUBLE) / n_days) * (CAST(total AS DOUBLE) / n_days)) / (n_days - 1) AS v FROM m) SELECT event_type, n_days, total, ROUND(1e-9 + mu, 6) AS mean_daily, ROUND(1e-9 + v, 6) AS var_daily, ROUND(1e-9 + v / mu, 6) AS dispersion_index, ROUND(1e-9 + (n - 1) * v / mu, 6) AS chi2_stat FROM x ORDER BY event_type"""),
  )

  /** Ljung-Box portmanteau test (r10d) per event type — turns
    * [[graft.ops.Analytics]]'s ts_autocorr_lags ACF into the standard
    * whiteness decision: Q = n(n+2)·Σ_{k≤5} r_k²/(n−k) ~ χ²(5) under
    * independence (the residual screen every forecasting fit runs).
    * Identical ACF formulation as the parent key (r6'd centered
    * products, decimal-summed, exact-decimal daily revenue), so the two
    * keys are mutually consistent by construction; the 5%-level χ²(5)
    * critical value 11.0705 is pinned as a literal on both engines.
    * Scale shape: one fact hash-agg, then lag self-join and window math
    * over the DAYS-bounded daily relation.
    */
  private val ljungBox = Op(
    "stats_ljungbox",
    (s, sf) => {
      val daily = Tables.events(s, sf)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(sum(dec(col("value"))).as("ydec"))
      val idxd = daily
        .withColumn("idx", datediff(col("day"), min(col("day")).over(
          Window.partitionBy("event_type"))))
        .withColumn("y", col("ydec").cast("double"))
      val nDays = daily.groupBy("event_type").agg(count(lit(1)).as("n"))
      val mean = idxd.groupBy("event_type")
        .agg(r6(sum(col("ydec")).cast("double") / count(lit(1))).as("mean"))
      val d = idxd.join(mean, "event_type")
        .select(col("event_type"), col("idx"), r6(col("y") - col("mean")).as("d"))
      val den = d.groupBy("event_type")
        .agg(sum(dec(r6(col("d") * col("d")))).as("den"))
      val acf = d.as("a")
        .join(d.as("b"), col("a.event_type") === col("b.event_type") &&
          col("b.idx") > col("a.idx") && col("b.idx") <= col("a.idx") + 5)
        .select(col("a.event_type").as("event_type"),
          (col("b.idx") - col("a.idx")).as("lag"),
          r6(col("a.d") * col("b.d")).as("prod"))
        .groupBy("event_type", "lag")
        .agg(sum(dec(col("prod"))).as("num"))
        .join(den, "event_type")
        .select(col("event_type"), col("lag"),
          r6(col("num").cast("double") / col("den").cast("double")).as("r"))
      acf.join(nDays, "event_type")
        .withColumn("term",
          r6(col("r") * col("r") / (col("n") - col("lag"))))
        .groupBy(col("event_type"), col("n").as("n_days"))
        .agg(sum(dec(col("term"))).as("tsum"))
        .select(col("event_type"), col("n_days"),
          r6(col("n_days") * (col("n_days") + 2) *
            col("tsum").cast("double")).as("q_stat"),
          lit(5).as("df"),
          (col("n_days") * (col("n_days") + 2) * col("tsum").cast("double")
            > 11.070498).as("reject_5pct"))
        .orderBy("event_type")
    },
    Some("""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day, SUM(CAST(value AS DECIMAL(18,6))) AS ydec FROM events GROUP BY 1, 2), i AS (SELECT event_type, datediff('day', MIN(day) OVER (PARTITION BY event_type), day) AS idx, CAST(ydec AS DOUBLE) AS y FROM daily), nd AS (SELECT event_type, COUNT(*) AS n FROM daily GROUP BY 1), m AS (SELECT event_type, ROUND(1e-9 + CAST(SUM(ydec) AS DOUBLE) / COUNT(*), 6) AS mean FROM daily GROUP BY 1), d AS (SELECT i.event_type, idx, ROUND(1e-9 + y - mean, 6) AS d FROM i JOIN m ON m.event_type = i.event_type), den AS (SELECT event_type, SUM(CAST(ROUND(1e-9 + d * d, 6) AS DECIMAL(18,6))) AS den FROM d GROUP BY 1), acf AS (SELECT a.event_type, b.idx - a.idx AS lag, ROUND(1e-9 + CAST(SUM(CAST(ROUND(1e-9 + a.d * b.d, 6) AS DECIMAL(18,6))) AS DOUBLE) / CAST(den.den AS DOUBLE), 6) AS r FROM d a JOIN d b ON b.event_type = a.event_type AND b.idx > a.idx AND b.idx <= a.idx + 5 JOIN den ON den.event_type = a.event_type GROUP BY 1, 2, den.den), t AS (SELECT acf.event_type, nd.n AS n_days, SUM(CAST(ROUND(1e-9 + r * r / (nd.n - lag), 6) AS DECIMAL(18,6))) AS tsum FROM acf JOIN nd ON nd.event_type = acf.event_type GROUP BY 1, 2) SELECT event_type, CAST(n_days AS BIGINT) AS n_days, ROUND(1e-9 + n_days * (n_days + 2) * CAST(tsum AS DOUBLE), 6) AS q_stat, 5 AS df, n_days * (n_days + 2) * CAST(tsum AS DOUBLE) > 11.070498 AS reject_5pct FROM t ORDER BY event_type"""),
  )

  /** Lincoln-Petersen / Chapman capture-recapture (r10d): estimate the
    * total user population from two weekly "captures" (week-1 users
    * mark, week-2 users recapture) — the classical mark-recapture
    * estimator, which doubles in data work as a cheap coverage check on
    * expensive distinct counts (if N̂ >> observed distinct, the corpus
    * window undercounts the population). One pass to per-user week
    * flags (hash-agg, map-side combined), one row out; Chapman's +1
    * correction is the small-sample-safe variant. All integer until the
    * two final quotients.
    */
  private val captureRecapture = Op(
    "stats_capture_recapture",
    (s, sf) => {
      val w1e = col("ts") < lit("2024-01-08").cast("timestamp")
      val w2e = col("ts") >= lit("2024-01-08").cast("timestamp") &&
        col("ts") < lit("2024-01-15").cast("timestamp")
      val users = Tables.events(s, sf)
        .filter(w1e || w2e)
        .groupBy("user_id")
        .agg(max(when(w1e, 1).otherwise(0)).as("in1"),
          max(when(w2e, 1).otherwise(0)).as("in2"))
      users.agg(
          sum(col("in1")).cast("long").as("n1"),
          sum(col("in2")).cast("long").as("n2"),
          sum(col("in1") * col("in2")).cast("long").as("overlap"),
          count(lit(1)).as("true_union"))
        .select(col("n1"), col("n2"), col("overlap"), col("true_union"),
          r6(col("n1").cast("double") * col("n2") / col("overlap"))
            .as("lincoln_petersen"),
          r6((col("n1") + 1).cast("double") * (col("n2") + 1) /
            (col("overlap") + 1) - 1).as("chapman"))
    },
    Some("""WITH u AS (SELECT user_id, MAX(CASE WHEN ts < TIMESTAMP '2024-01-08' THEN 1 ELSE 0 END) AS in1, MAX(CASE WHEN ts >= TIMESTAMP '2024-01-08' AND ts < TIMESTAMP '2024-01-15' THEN 1 ELSE 0 END) AS in2 FROM events WHERE ts < TIMESTAMP '2024-01-15' GROUP BY 1) SELECT CAST(SUM(in1) AS BIGINT) AS n1, CAST(SUM(in2) AS BIGINT) AS n2, CAST(SUM(in1 * in2) AS BIGINT) AS overlap, COUNT(*) AS true_union, ROUND(1e-9 + CAST(SUM(in1) AS DOUBLE) * SUM(in2) / SUM(in1 * in2), 6) AS lincoln_petersen, ROUND(1e-9 + CAST(SUM(in1) + 1 AS DOUBLE) * (SUM(in2) + 1) / (SUM(in1 * in2) + 1) - 1, 6) AS chapman FROM u"""),
  )

  /** Two-proportion z-test (r10d): is the PURCHASE SHARE of events
    * different on weekends vs weekdays? The conversion-rate A/B shape
    * (pooled-variance z on two binomial proportions) next to
    * [[bhFdr]]'s mean-shift battery; p-value through the same A&S
    * erfc polynomial. One conditional hash-agg of the fact table,
    * 1 row out, integers until the z chain.
    */
  private val propZtest = Op(
    "stats_prop_ztest",
    (s, sf) => {
      val wkendS = dayofweek(col("ts")).isin(1, 7)
      val m = Tables.events(s, sf).agg(
        sum(when(wkendS, 1L).otherwise(0L)).as("n1"),
        sum(when(wkendS && col("event_type") === "purchase", 1L).otherwise(0L)).as("x1"),
        sum(when(!wkendS, 1L).otherwise(0L)).as("n2"),
        sum(when(!wkendS && col("event_type") === "purchase", 1L).otherwise(0L)).as("x2"))
      val p1 = col("x1").cast("double") / col("n1")
      val p2 = col("x2").cast("double") / col("n2")
      val pp = (col("x1") + col("x2")).cast("double") / (col("n1") + col("n2"))
      val z = (p1 - p2) / sqrt(pp * (lit(1.0) - pp) *
        (lit(1.0) / col("n1") + lit(1.0) / col("n2")))
      m.select(col("n1").as("n_weekend"), col("x1").as("conv_weekend"),
          col("n2").as("n_weekday"), col("x2").as("conv_weekday"),
          r6(p1).as("p_weekend"), r6(p2).as("p_weekday"), r6(z).as("z_stat"))
        .withColumn("x", abs(col("z_stat")) / sqrt(lit(2.0)))
        .withColumn("t", lit(1.0) / (lit(1.0) + lit(0.3275911) * col("x")))
        .withColumn("p_value", r6(
          col("t") * (lit(0.254829592) + col("t") * (lit(-0.284496736)
            + col("t") * (lit(1.421413741) + col("t") * (lit(-1.453152027)
            + col("t") * lit(1.061405429))))) * exp(-col("x") * col("x"))))
        .drop("x", "t")
    },
    Some("""WITH m AS (SELECT SUM(CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END) AS n1, SUM(CASE WHEN dayofweek(ts) IN (0, 6) AND event_type = 'purchase' THEN 1 ELSE 0 END) AS x1, SUM(CASE WHEN dayofweek(ts) NOT IN (0, 6) THEN 1 ELSE 0 END) AS n2, SUM(CASE WHEN dayofweek(ts) NOT IN (0, 6) AND event_type = 'purchase' THEN 1 ELSE 0 END) AS x2 FROM events), x AS (SELECT CAST(n1 AS BIGINT) AS n_weekend, CAST(x1 AS BIGINT) AS conv_weekend, CAST(n2 AS BIGINT) AS n_weekday, CAST(x2 AS BIGINT) AS conv_weekday, CAST(x1 AS DOUBLE) / n1 AS p1, CAST(x2 AS DOUBLE) / n2 AS p2, CAST(x1 + x2 AS DOUBLE) / (n1 + n2) AS pp FROM m), z AS (SELECT n_weekend, conv_weekend, n_weekday, conv_weekday, ROUND(1e-9 + p1, 6) AS p_weekend, ROUND(1e-9 + p2, 6) AS p_weekday, ROUND(1e-9 + (p1 - p2) / sqrt(pp * (1.0 - pp) * (1.0 / n_weekend + 1.0 / n_weekday)), 6) AS z_stat FROM x) SELECT n_weekend, conv_weekend, n_weekday, conv_weekday, p_weekend, p_weekday, z_stat, ROUND(1e-9 + t * (0.254829592 + t * (-0.284496736 + t * (1.421413741 + t * (-1.453152027 + t * 1.061405429)))) * exp(-xx * xx), 6) AS p_value FROM (SELECT *, 1.0 / (1.0 + 0.3275911 * xx) AS t FROM (SELECT *, ABS(z_stat) / sqrt(2.0) AS xx FROM z) a) b"""),
  )

  /** Hash-splitter uniformity audit (r10e): χ² goodness-of-fit of the
    * md5 bucket assignment (the exact function `sample_hash_split` and
    * every deterministic sampler key off) against uniform over 100
    * buckets, on event_id — the infrastructure SELF-CHECK that the
    * reproducible-sampling discipline rests on (a skewed splitter
    * silently biases every train/val/test cut downstream). One linear
    * hash-agg to 100 bucket counts; χ²(99) with the 5% critical value
    * pinned as a shared literal. All integer until the contribution
    * chain.
    */
  private val hashUniformity = Op(
    "stats_hash_uniformity",
    (s, sf) => {
      val b = Tables.events(s, sf)
        .select(pmod(conv(substring(md5(col("event_id").cast("string")), 1, 7),
          16, 10).cast("bigint"), lit(100)).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("cnt"))
      val tot = b.agg(sum("cnt").as("n"), count(lit(1)).as("k"),
        min("cnt").as("min_bucket"), max("cnt").as("max_bucket"))
      val e = col("n").cast("double") / lit(100.0)
      b.crossJoin(broadcast(tot))
        .withColumn("contrib",
          r6((col("cnt") - e) * (col("cnt") - e) / e))
        .agg(first(col("n")).as("nn"), first(col("k")).as("kk"),
          first(col("min_bucket")).as("mn"), first(col("max_bucket")).as("mx"),
          sum(dec(col("contrib"))).as("chi2"))
        .select(col("nn").cast("long").as("n_rows"),
          col("kk").cast("long").as("n_buckets"),
          col("mn").cast("long").as("min_bucket"),
          col("mx").cast("long").as("max_bucket"),
          col("chi2").cast("double").as("chi2_stat"),
          (col("chi2").cast("double") > 123.225221).as("reject_5pct"))
    },
    Some("""WITH b AS (SELECT CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 7)) AS BIGINT) % 100 AS bucket, COUNT(*) AS cnt FROM events GROUP BY 1), t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n, COUNT(*) AS k, CAST(MIN(cnt) AS BIGINT) AS mn, CAST(MAX(cnt) AS BIGINT) AS mx FROM b), c AS (SELECT SUM(CAST(ROUND(1e-9 + (cnt - n / 100.0) * (cnt - n / 100.0) / (n / 100.0), 6) AS DECIMAL(18,6))) AS chi2 FROM b, t) SELECT t.n AS n_rows, t.k AS n_buckets, t.mn AS min_bucket, t.mx AS max_bucket, CAST(c.chi2 AS DOUBLE) AS chi2_stat, CAST(c.chi2 AS DOUBLE) > 123.225221 AS reject_5pct FROM t, c"""),
  )

  /** Kruskal-Wallis H test (r11) — the rank-based (distribution-free)
    * dual of [[anovaOneway]], and Mann-Whitney's k-group
    * generalization: does l_quantity's DISTRIBUTION differ across
    * return flags, without assuming normality? Ranks never
    * materialize per row: l_quantity's NDV is domain-bounded (integer
    * quantities 1..50), so the op aggregates to (flag, q, count) cells
    * — ONE linear hash-agg of the fact table — and average ranks come
    * from a window over the ≤NDV-row value relation (midrank =
    * cum-before + (t+1)/2, halves exact in binary). H with the
    * standard tie correction; per-group rank sums r6'd then
    * decimal-summed.
    */
  private val kruskalWallis = Op(
    "stats_kruskal_wallis",
    (s, sf) => {
      val cells = Tables.lineitem(s, sf)
        .groupBy(col("l_returnflag").as("f"), col("l_quantity").as("q"))
        .agg(count(lit(1)).as("cnt"))
      val vals = cells.groupBy("q").agg(sum("cnt").as("t"))
        .withColumn("cumb",
          coalesce(sum("t").over(Window.orderBy("q")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("avgrank", col("cumb") + (col("t") + 1) / lit(2.0))
      val wAll = Window.partitionBy()
      val grp = cells.join(vals.select("q", "avgrank"), "q")
        .groupBy("f")
        .agg(sum("cnt").as("n_g"),
          // dec38: the rank sum is ~N²/k per group and its square over
          // n_g is ~N³/k² — both blow past DECIMAL(18,6)'s 1e12 integer
          // capacity at even 60k rows (measured: crash at sf0.01).
          sum(dec38(r6(col("cnt") * col("avgrank")))).as("r_g"))
      val a = grp
        .withColumn("nn", sum("n_g").over(wAll))
        .withColumn("h_c",
          r6(col("r_g").cast("double") * col("r_g").cast("double") / col("n_g")))
        .agg(countDistinct(col("f")).as("k"),
          max(col("nn")).cast("long").as("n"),
          sum(dec38(col("h_c"))).cast("double").as("srr"))
      // t³ in DOUBLE, not long: a hot value's tie count cubed overflows
      // int64 around t ≈ 2M (quietly in non-ANSI Spark, loudly in
      // DuckDB); the double product is exact to 2^53 and rounds
      // identically on both engines past it.
      val ties = vals.agg(
        sum(dec38(r6(col("t").cast("double") * col("t") * col("t") - col("t"))))
          .cast("double").as("tsum"))
      val n = col("n").cast("double")
      a.crossJoin(broadcast(ties))
        .withColumn("h_raw",
          lit(12.0) / (n * (n + 1)) * col("srr") - lit(3.0) * (n + 1))
        .withColumn("c_tie", lit(1.0) - col("tsum") / (n * n * n - n))
        .select(col("k"), col("n"), (col("k") - 1).cast("long").as("df"),
          r6(col("h_raw")).as("h_stat"),
          r6(col("c_tie")).as("tie_correction"),
          r6(col("h_raw") / col("c_tie")).as("h_adjusted"))
    },
    Some("""WITH cells AS (SELECT l_returnflag AS f, l_quantity AS q, COUNT(*) AS cnt FROM lineitem GROUP BY 1, 2), vals AS (SELECT q, CAST(SUM(cnt) AS BIGINT) AS t FROM cells GROUP BY 1), vr AS (SELECT q, t, COALESCE(CAST(SUM(t) OVER (ORDER BY q ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) + (t + 1) / 2.0 AS avgrank FROM vals), grp AS (SELECT f, CAST(SUM(cnt) AS BIGINT) AS n_g, SUM(CAST(ROUND(1e-9 + cnt * avgrank, 6) AS DECIMAL(38,6))) AS r_g FROM cells JOIN vr ON vr.q = cells.q GROUP BY 1), a AS (SELECT COUNT(DISTINCT f) AS k, CAST(MAX(nn) AS BIGINT) AS n, CAST(SUM(CAST(h_c AS DECIMAL(38,6))) AS DOUBLE) AS srr FROM (SELECT f, SUM(n_g) OVER () AS nn, ROUND(1e-9 + CAST(r_g AS DOUBLE) * CAST(r_g AS DOUBLE) / n_g, 6) AS h_c FROM grp) z), ties AS (SELECT CAST(SUM(CAST(ROUND(1e-9 + (CAST(t AS DOUBLE) * t * t - t), 6) AS DECIMAL(38,6))) AS DOUBLE) AS tsum FROM vals), x AS (SELECT k, n, 12.0 / (CAST(n AS DOUBLE) * (n + 1)) * srr - 3.0 * (n + 1) AS h_raw, 1.0 - tsum / (CAST(n AS DOUBLE) * n * n - n) AS c_tie FROM a, ties) SELECT k, n, CAST(k - 1 AS BIGINT) AS df, ROUND(1e-9 + h_raw, 6) AS h_stat, ROUND(1e-9 + c_tie, 6) AS tie_correction, ROUND(1e-9 + h_raw / c_tie, 6) AS h_adjusted FROM x"""),
  )

  /** Brown-Forsythe test (r11) — variance-homogeneity screen on
    * |x − group median| (Levene's statistic with the MEDIAN center,
    * the robust variant): do the event types have equal SPREAD, the
    * precondition classical ANOVA assumes and [[anovaOneway]] never
    * checks. Group medians via the lower-median rank pick on the
    * value-NDV-bounded (type, value, count) relation (the
    * weighted-median discipline); the deviations then feed exactly the
    * one-way F machinery on r6'd |x − med| terms. Scale shape: two
    * linear passes of the fact table (one to cells, one to deviation
    * moments), windows only over NDV-bounded relations.
    */
  private val brownForsythe = Op(
    "stats_brown_forsythe",
    (s, sf) => {
      val cells = Tables.events(s, sf)
        .groupBy(col("event_type").as("g"), col("value").as("x"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("g").orderBy("x")
      val med = cells
        .withColumn("cum", sum("cnt").over(w))
        .withColumn("tot", sum("cnt").over(Window.partitionBy("g")))
        .filter(col("cum") * 2 >= col("tot"))
        .groupBy("g").agg(min("x").as("med"))
      val dev = cells.join(med, "g")
        .withColumn("z", r6(abs(col("x") - col("med"))))
        .groupBy("g")
        .agg(sum("cnt").as("n"),
          sum(dec(r6(col("z") * col("cnt")))).as("sz"),
          sum(dec(r6(col("z") * col("z") * col("cnt")))).as("szz"))
      val wAll = Window.partitionBy()
      val x = dev
        .withColumn("nn", sum("n").over(wAll))
        .withColumn("sza", sum("sz").over(wAll))
        .withColumn("gm", col("sza").cast("double") / col("nn"))
        .withColumn("m", col("sz").cast("double") / col("n"))
        .withColumn("ssb_c", r6(col("n") * (col("m") - col("gm")) * (col("m") - col("gm"))))
        .withColumn("ssw_c", r6(col("szz").cast("double") - col("n") * col("m") * col("m")))
      val a = x.agg(
        countDistinct(col("g")).as("k"),
        max(col("nn")).cast("long").as("n"),
        sum(dec(col("ssb_c"))).cast("double").as("ssb"),
        sum(dec(col("ssw_c"))).cast("double").as("ssw"))
      a.select(col("k"), col("n"),
          (col("k") - 1).cast("long").as("df1"),
          (col("n") - col("k")).cast("long").as("df2"),
          r6((col("ssb") / (col("k") - 1)) / (col("ssw") / (col("n") - col("k")))).as("f_stat"))
    },
    Some("""WITH cells AS (SELECT event_type AS g, value AS x, COUNT(*) AS cnt FROM events GROUP BY 1, 2), med AS (SELECT g, MIN(x) AS med FROM (SELECT g, x, SUM(cnt) OVER (PARTITION BY g ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, SUM(cnt) OVER (PARTITION BY g) AS tot FROM cells) z WHERE cum * 2 >= tot GROUP BY g), dev AS (SELECT cells.g, CAST(SUM(cnt) AS BIGINT) AS n, SUM(CAST(ROUND(1e-9 + ROUND(1e-9 + abs(x - med), 6) * cnt, 6) AS DECIMAL(18,6))) AS sz, SUM(CAST(ROUND(1e-9 + ROUND(1e-9 + abs(x - med), 6) * ROUND(1e-9 + abs(x - med), 6) * cnt, 6) AS DECIMAL(18,6))) AS szz FROM cells JOIN med ON med.g = cells.g GROUP BY 1), x AS (SELECT g, n, sz, szz, CAST(SUM(n) OVER () AS BIGINT) AS nn, CAST(SUM(sz) OVER () AS DOUBLE) / CAST(SUM(n) OVER () AS BIGINT) AS gm, CAST(sz AS DOUBLE) / n AS m FROM dev), y AS (SELECT g, nn, ROUND(1e-9 + n * (m - gm) * (m - gm), 6) AS ssb_c, ROUND(1e-9 + CAST(szz AS DOUBLE) - n * m * m, 6) AS ssw_c FROM x), a AS (SELECT COUNT(DISTINCT g) AS k, CAST(MAX(nn) AS BIGINT) AS n, CAST(SUM(CAST(ssb_c AS DECIMAL(18,6))) AS DOUBLE) AS ssb, CAST(SUM(CAST(ssw_c AS DECIMAL(18,6))) AS DOUBLE) AS ssw FROM y) SELECT k, n, CAST(k - 1 AS BIGINT) AS df1, CAST(n - k AS BIGINT) AS df2, ROUND(1e-9 + (ssb / (k - 1)) / (ssw / (n - k)), 6) AS f_stat FROM a"""),
  )

  /** ROC AUC by the rank statistic (r11) — the model-evaluation number
    * an LLM-data quality-classifier pipeline reports: does `value`
    * separate purchases (positives) from clicks (negatives)? AUC equals
    * the normalized Mann-Whitney U computed from MIDRANKS, so the whole
    * measurement is one linear hash-agg to (value, n_pos, n_neg) cells
    * (value-NDV-bounded), a cumulative window over the cell relation,
    * and one roll-up — no per-row ranks ever materialize, the same
    * scale shape as [[kruskalWallis]]. Rank sums in DECIMAL(38,6) (the
    * N²-class magnitude), the tie-handling exact (midranks are the
    * textbook ties correction).
    */
  private val aucRoc = Op(
    "stats_auc_roc",
    (s, sf) => {
      val cells = Tables.events(s, sf)
        .filter(col("event_type").isin("purchase", "click"))
        .groupBy(col("value").as("x"))
        .agg(sum((col("event_type") === "purchase").cast("long")).as("np"),
          sum((col("event_type") === "click").cast("long")).as("nn"))
      val ranked = cells
        .withColumn("t", col("np") + col("nn"))
        .withColumn("cumb",
          coalesce(sum(col("np") + col("nn")).over(Window.orderBy("x")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("midrank", col("cumb") + (col("t") + 1) / lit(2.0))
      val a = ranked.agg(
        sum("np").cast("long").as("n_pos"),
        sum("nn").cast("long").as("n_neg"),
        sum(dec38(r6(col("np") * col("midrank")))).cast("double").as("r_pos"))
      val np = col("n_pos").cast("double")
      a.select(col("n_pos"), col("n_neg"),
        r6((col("r_pos") - np * (np + 1) / 2) /
          (np * col("n_neg").cast("double"))).as("auc"))
    },
    Some("""WITH cells AS (SELECT value AS x, CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS np, CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS nn FROM events WHERE event_type IN ('purchase', 'click') GROUP BY 1), rk AS (SELECT np, COALESCE(CAST(SUM(np + nn) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) + (np + nn + 1) / 2.0 AS midrank FROM cells), a AS (SELECT CAST((SELECT SUM(np) FROM cells) AS BIGINT) AS n_pos, CAST((SELECT SUM(nn) FROM cells) AS BIGINT) AS n_neg, CAST(SUM(CAST(ROUND(1e-9 + np * midrank, 6) AS DECIMAL(38,6))) AS DOUBLE) AS r_pos FROM rk) SELECT n_pos, n_neg, ROUND(1e-9 + (r_pos - CAST(n_pos AS DOUBLE) * (n_pos + 1) / 2) / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)), 6) AS auc FROM a"""),
  )

  /** CALIBRATION CURVE (r11) — [[aucRoc]]'s companion: AUC measures
    * whether the score RANKS positives above negatives; calibration
    * measures whether the score's VALUE means what it says (a model
    * can discriminate perfectly and still be useless as a
    * probability). Ten fixed-width score bins over the observed range
    * (the max folds in as a 1-row broadcast — no rank window over fact
    * rows, unlike the tempting ntile formulation), per bin the
    * positive rate vs the mean score — one linear pass.
    */
  private val calibrationBins = Op(
    "stats_calibration_bins",
    (s, sf) => {
      val ev = Tables.events(s, sf)
        .filter(col("event_type").isin("purchase", "click"))
        .select(col("value"), (col("event_type") === "purchase").cast("long").as("pos"))
      val mx = ev.agg(max(col("value")).as("mx"))
      ev.crossJoin(broadcast(mx))
        .withColumn("bin", least(floor(col("value") / (col("mx") / 10)), lit(9L)).cast("int"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"),
          sum("pos").as("n_pos"),
          r6(sum("pos").cast("double") / count(lit(1))).as("pos_rate"),
          r6(sum(dec(col("value"))).cast("double") / count(lit(1))).as("mean_score"))
        .orderBy("bin")
    },
    Some("""WITH ev AS (SELECT value, CAST(event_type = 'purchase' AS BIGINT) AS pos FROM events WHERE event_type IN ('purchase', 'click')), m AS (SELECT MAX(value) AS mx FROM ev) SELECT CAST(LEAST(floor(value / (mx / 10)), 9) AS INT) AS bin, COUNT(*) AS n, CAST(SUM(pos) AS BIGINT) AS n_pos, ROUND(1e-9 + CAST(SUM(pos) AS DOUBLE) / COUNT(*), 6) AS pos_rate, ROUND(1e-9 + CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS mean_score FROM ev, m GROUP BY 1 ORDER BY bin"""),
  )

  override def ops: Seq[Op] = Seq(ksDrift, psiDrift, chisq, mannWhitney,
    entropyDaily, welchTtest, bootstrapCi, madOutliers, skewKurtosis,
    dailyPercentiles, anovaOneway, cohensD, cramersV, jsDivergence,
    spearmanRank, runsTest, gTest, bhFdr, kendallTau, jarqueBera,
    poissonDispersion, ljungBox, captureRecapture, propZtest,
    hashUniformity, kruskalWallis, brownForsythe, aucRoc, calibrationBins)
}
